"""Output check run inside every timed iteration.

A digest is an order-insensitive fingerprint of a table: the row count plus
two sums over the halves of ``xxhash64`` of the row struct. Summing 32-bit
halves cannot overflow a long at any size this benchmark runs, so the digest
is ANSI-safe, and unlike BIT_XOR a duplicated row changes it.

Only reference-facing columns are digested. ``headers_json``/``prov_json``
and the other carried JSON strings are left out on purpose, so a change
that stops carrying them stays legal; what users read (ids, geometry, time,
value, cell, region, nearest station, tile counts) may not change.
"""

from __future__ import annotations

from pyspark.sql import functions as F

FEATURE_COLS = ("feature_id", "wsi", "lon", "lat", "z", "phenomenon_time",
                "result_value", "cell_s2", "region_id", "nearest_station_id")
TILE_COLS = ("level", "cell", "n_obs")
#: fields of each written GeoJSON Feature that the export digest covers
GEOJSON_FIELDS = {
    "feature_id": "$.id",
    "host": "$.properties.host",
    "lon": "$.geometry.coordinates[0]",
    "lat": "$.geometry.coordinates[1]",
    "z": "$.geometry.coordinates[2]",
    "phenomenon_time": "$.properties.phenomenonTime",
    "result_value": "$.properties.result.value",
}

_LO = 0xFFFFFFFF


def _digest_aggs(cols):
    h = F.xxhash64(F.struct(*[F.col(c) for c in cols]))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(_LO))).alias("h_lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("h_hi"),
    ]


def _fmt(row) -> str:
    return f"{row['rows']}:{(row['h_lo'] or 0):x}:{(row['h_hi'] or 0):x}"


def corpus_digest(docs) -> str:
    """Digest of a documents table (doc_id + every span)."""
    return _fmt(docs.agg(*_digest_aggs(("doc_id", "spans"))).first())


def check_pipeline(spark, docs, res, lineage_dir: str, base_level: int
                   ) -> tuple[dict, list[str]]:
    """Digest a ``PipelineResult`` and check its conservation laws.

    Returns ``(observed, problems)``; an empty ``problems`` list passes.
    """
    problems = []
    f = res.features.agg(
        *_digest_aggs(FEATURE_COLS),
        F.count("result_value").alias("n_values"),
    ).first()
    t = res.tiles.agg(
        *_digest_aggs(TILE_COLS),
        F.sum(F.when(F.col("level") == base_level, F.col("n_obs"))).alias(
            "base_obs"),
    ).first()
    observed = {"features": _fmt(f), "tiles": _fmt(t)}

    if (t["base_obs"] or 0) != f["n_values"]:
        problems.append(
            f"sum n_obs at level {base_level} = {t['base_obs']} but "
            f"{f['n_values']} features carry a result_value")
    lin = {r["stage"]: r["rows"] for r in (
        spark.read.parquet(*[f"{lineage_dir}/{s}" for s in ("J", "W")])
        .groupBy("stage").agg(F.sum("row_count").alias("rows")).collect())}
    if lin.get("J") != lin.get("W") or lin.get("W") != f["rows"]:
        problems.append(f"lineage rows out of J {lin.get('J')} != rows into "
                        f"W {lin.get('W')} (features {f['rows']})")
    missing = docs.select("doc_id").join(
        res.features.select("doc_id"), "doc_id", "left_anti")
    if missing.limit(1).count():
        lost = missing.join(res.quarantine.select("doc_id"), "doc_id",
                            "left_anti").distinct().count()
        if lost:
            problems.append(f"{lost} documents in neither features nor "
                            "quarantine")
    return observed, problems


def check_geojson(spark, path: str) -> tuple[dict, int, list[str]]:
    """Digest the written GeoJSON text (with its ``cell_prefix`` directory).

    Returns ``(observed, features_written, problems)``."""
    text = spark.read.text(path)
    parsed = text.select(
        "cell_prefix",
        *[F.get_json_object("value", p).alias(c)
          for c, p in GEOJSON_FIELDS.items()])
    row = parsed.agg(
        *_digest_aggs(("cell_prefix", *GEOJSON_FIELDS)),
        F.count("feature_id").alias("with_id"),
    ).first()
    observed = {"geojson": _fmt(row)}
    problems = []
    if row["with_id"] != row["rows"]:
        problems.append(f"{row['rows'] - row['with_id']} GeoJSON lines "
                        "without an id")
    return observed, row["rows"], problems


def compare(observed: dict, expected: dict) -> list[str]:
    """Mismatches between observed and expected digests."""
    return [f"{k}: digest {observed.get(k)} != expected {v}"
            for k, v in expected.items() if observed.get(k) != v]
