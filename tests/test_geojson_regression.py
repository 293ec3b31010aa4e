"""Byte-for-byte regression guard for the GeoJSON sink.

The fixtures under ``tests/fixtures/`` were recorded from commit 87ed505,
before ``hasProvenance`` and ``additionalProperties.BUFRheaders`` moved
from decode into the sink. They are a regression guard recorded from
87ed505, not reference parity: reference parity is
``test_geojson.py::test_geojson_matches_reference_fixture``.

``perfbench/check.py`` digests neither ``hasProvenance`` nor
``additionalProperties``; these tests pin every byte of both.

Re-record (only on purpose, from a commit whose output is known good)::

    PYTHONPATH=. python3 tests/test_geojson_regression.py
"""

import hashlib
import json
import os

from bufr2geojson_spark.functions.geojson import to_geojson
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA
from bufr2geojson_spark.sources.synth import (
    golden_documents,
    sherkin_island_document,
    synth_documents,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures")
GOLDEN_LINES = os.path.join(FIXTURES, "golden_geojson.87ed505.jsonl")
CORPUS_DIGESTS = os.path.join(FIXTURES, "geojson_corpus_sha256.87ed505.json")

#: decode keyword sets the corpus digest is recorded for; the second one
#: moves every injectable PROV input off its default
DECODE_VARIANTS = {
    "default": {},
    "prov_end_time": {"prov_end_time": "2025-01-02T03:04:05Z",
                      "source_identifier": "feed-b.bufr",
                      "guess_wsi": False},
}


def _geojson_lines(feats) -> list[str]:
    rows = to_geojson(feats.filter("error is null"),
                      keep_cols=("feature_id",)).collect()
    return sorted(r.geojson for r in rows)


def _sourced_document() -> dict:
    """The golden station report with ``sourceIdentifier`` (one that needs
    JSON escaping) and ``messageNumber`` set in its header."""
    doc = sherkin_island_document()
    spans = [dict(s) for s in doc["spans"]]
    header = json.loads(spans[0]["text"])
    header.pop("reportIdentifier")
    header["sourceIdentifier"] = 'Sürce "A"\\ W_XX_C_EIDB.bufr'
    header["messageNumber"] = 3
    spans[0]["text"] = json.dumps(header)
    return {"doc_id": "sourced-message-3", "spans": spans}


def _corpus(spark):
    synth = synth_documents(spark, 120, n_stations=30, partitions=3,
                            multi_subset_every=4)
    sourced = spark.createDataFrame([_sourced_document()], DOCUMENT_SCHEMA)
    return golden_documents(spark).unionByName(synth).unionByName(sourced)


def corpus_digest(spark, variant: str) -> dict:
    lines = _geojson_lines(
        decode_documents(_corpus(spark), **DECODE_VARIANTS[variant]))
    text = "\n".join(lines).encode()
    return {"n_lines": len(lines), "sha256": hashlib.sha256(text).hexdigest()}


def test_golden_geojson_text_unchanged(spark):
    got = _geojson_lines(decode_documents(golden_documents(spark)))
    with open(GOLDEN_LINES) as f:
        expected = f.read().splitlines()
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g == e


def test_corpus_geojson_sha256_unchanged(spark):
    with open(CORPUS_DIGESTS) as f:
        expected = json.load(f)["digests"]
    assert set(expected) == set(DECODE_VARIANTS)
    for variant, want in expected.items():
        assert corpus_digest(spark, variant) == want, variant


def test_corpus_covers_prov_and_header_inputs(spark):
    """The digested corpus must keep exercising what the sink assembles:
    multi-subset reports, code and flag tables, a header-supplied source
    identifier and message number, and the injected end time."""
    feats = decode_documents(_corpus(spark), **DECODE_VARIANTS["prov_end_time"])
    docs = [json.loads(s) for s in _geojson_lines(feats)]
    values = [d["properties"]["result"]["value"] for d in docs]
    assert any(isinstance(v, dict) and "codetable" in v for v in values)
    assert any(isinstance(v, dict) and "flagtable" in v for v in values)
    params = [d["properties"]["parameter"] for d in docs]
    subsets = {p["additionalProperties"]["BUFRheaders"]["subsetNumber"]
               for p in params}
    assert {1, 2, 3} <= subsets
    labels = [
        e["prov:label"] for p in params
        for e in p["hasProvenance"]["entity"].values()
        if e["prov:type"] == "observation"
    ]
    assert any(lbl.endswith("from subset 2 of message 1") for lbl in labels)
    assert any(lbl.endswith("of message 3") for lbl in labels)
    used = {p["hasProvenance"]["wasDerivedFrom"]["_:wdf"]["prov:usedEntity"]
            for p in params}
    assert 'Sürce "A"\\ W_XX_C_EIDB.bufr' in used
    assert "feed-b.bufr" in used
    ends = {p["hasProvenance"]["activity"]["_:bufr2geojson"]["prov:endTime"]
            for p in params}
    assert ends == {"2025-01-02T03:04:05Z"}


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    os.makedirs(FIXTURES, exist_ok=True)
    with open(GOLDEN_LINES, "w") as f:
        f.write("\n".join(_geojson_lines(
            decode_documents(golden_documents(spark)))) + "\n")
    with open(CORPUS_DIGESTS, "w") as f:
        json.dump({
            "note": "regression guard recorded from 87ed505, not reference "
                    "parity: sha256 over the sorted GeoJSON lines of "
                    "tests/test_geojson_regression.py::_corpus",
            "digests": {v: corpus_digest(spark, v) for v in DECODE_VARIANTS},
        }, f, indent=1)
        f.write("\n")
    spark.stop()
