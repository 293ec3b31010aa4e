"""Seeded input corpora for the benchmark workloads.

Every corpus is a pure function of ``(workload, seed)``: the seed reaches
the hash streams of ``sources.synth`` and nothing reads a clock or
``rand()``. The corpus is written once per run as a parquet documents table,
which the program then reads back through ``sources.io.read_snapshot``.

* ``scattered`` (also the ``geojson_export`` input) is the default
  ``synth_documents`` corpus: reports jittered +-0.3 deg around their
  stations, half of them on the clustered hot 10 % of stations, a media
  span on every third document.
* ``station_dense`` is built here from the same span builders: every report
  sits at its station's exact coordinates (a SYNOP station reports from one
  site), every fifth document is a 2-3 subset bulletin, and about 1 % of
  documents are malformed so that the quarantine path runs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA
from bufr2geojson_spark.sources.synth import (
    _DATA_CATALOG,
    _h,
    _header_json,
    _qualifier_spans,
    _span,
    _station_arrays,
    _uni,
    default_n_stations,
    element_text,
    synth_documents,
    synth_region_polygons,
    synth_stations,
)

#: documents per corpus; the iteration time at this size is mostly the
#: pipeline's fixed per-job cost, which is what a short run can hold steady
N_DOCS = 1000

#: share of station_dense documents that are malformed (quarantined)
MALFORMED_SHARE = 0.01
#: every MULTI_SUBSET_EVERY-th station_dense document is a multi-subset bulletin
MULTI_SUBSET_EVERY = 5


def station_dense_documents(spark, n_docs: int, seed: int, partitions: int):
    """Fixed-site corpus: exact station coordinates, multi-subset bulletins
    and ~1 % malformed documents (half without a header span, half with a
    header that is not JSON)."""
    n_stations = default_n_stations(n_docs)
    st = _station_arrays(n_stations, seed)
    n_hot = int(st["n_hot"])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.uint64)
            n = len(ids)
            if n == 0:
                continue
            hot = _uni(ids, seed, 1) < 0.5
            sidx = np.where(
                hot,
                (_h(ids, seed, 2) % np.uint64(n_hot)).astype(np.int64),
                (_h(ids, seed, 3) % np.uint64(n_stations)).astype(np.int64),
            )
            day = 1 + (_h(ids, seed, 6) % np.uint64(28)).astype(np.int64)
            hour = (_h(ids, seed, 7) % np.uint64(24)).astype(np.int64)
            n_el = 4 + (_h(ids, seed, 9) % np.uint64(9)).astype(np.int64)
            cat0 = (_h(ids, seed, 10) % np.uint64(len(_DATA_CATALOG))).astype(np.int64)
            vals = np.stack([_uni(ids, seed, 100 + j) for j in range(12)], axis=1)
            multi = (ids % np.uint64(MULTI_SUBSET_EVERY)) == np.uint64(
                MULTI_SUBSET_EVERY - 1)
            n_subsets = np.where(
                multi, 2 + (_h(ids, seed, 20) % np.uint64(2)).astype(np.int64), 1)
            u_bad = _uni(ids, seed, 30)
            docs = []
            for i in range(n):
                spans = []
                off = 0
                for k in range(int(n_subsets[i])):
                    s = int((sidx[i] + 13 * k) % n_stations)
                    kind = int(st["kind"][s])
                    header = _header_json(
                        year=2022, month=3, day=int(day[i]),
                        hour=int((hour[i] + k) % 24), sequence="307080",
                        number_of_subsets=int(n_subsets[i]), subset_number=k + 1,
                    )
                    spans.append(_span("header", header, off))
                    spans += _qualifier_spans(
                        block=int(st["block"][s]) if kind <= 6 else None,
                        station=int(st["stnum"][s]) if kind <= 6 else None,
                        callsign=str(st["tsi"][s]) if 7 <= kind <= 8 else None,
                        wigos=(0, 20008, 0, str(st["tsi"][s])) if kind == 9 else None,
                        year=2022, month=3, day=int(day[i]),
                        hour=int((hour[i] + k) % 24), minute=0,
                        lat=float(st["lat"][s]), lon=float(st["lon"][s]),
                        ground_m=float(st["elevation_m"][s]),
                        barometer_m=float(st["elevation_m"][s]) + 1.5,
                        start_offset=off + 1,
                    )
                    off = spans[-1]["offset"] + 1
                    if k == 0 and ids[i] % np.uint64(3) == 0:
                        spans.append(_span("media", "station webcam frame", off,
                                           f"synthetic://img/{int(ids[i])}.png"))
                        off += 1
                    for j in range(int(n_el[i])):
                        f, key, units, scale, width, lo, hi = _DATA_CATALOG[
                            (int(cat0[i]) + j + k) % len(_DATA_CATALOG)]
                        val = round(lo + (hi - lo) * float(vals[i, (j + k) % 12]), 2)
                        spans.append(_span("element", element_text(
                            f, key, val, units, scale, 0, width), off))
                        off += 1
                if u_bad[i] < MALFORMED_SHARE / 2:
                    spans = spans[1:]  # no header span
                elif u_bad[i] < MALFORMED_SHARE:
                    spans[0] = dict(spans[0], text="{not json")
                docs.append((f"doc-{int(ids[i]):010d}", spans))
            yield pd.DataFrame(docs, columns=["doc_id", "spans"])

    return (spark.range(n_docs).repartition(partitions)
            .mapInPandas(gen, schema=DOCUMENT_SCHEMA))


def documents(spark, workload: str, seed: int, partitions: int,
              n_docs: int = N_DOCS):
    """The documents DataFrame of ``workload`` for ``seed``."""
    if workload == "station_dense":
        return station_dense_documents(spark, n_docs, seed, partitions)
    return synth_documents(spark, n_docs, seed=seed, partitions=partitions)


def dimensions(spark, seed: int):
    """(stations, polygons) as ``jobs/pipeline.py`` builds them: the station
    table shares the corpus seed, so documents sit at or near its stations."""
    stations = synth_stations(spark, default_n_stations(N_DOCS), seed=seed)
    return stations, synth_region_polygons(spark)


def write_documents(spark, workload: str, seed: int, path: str,
                    partitions: int) -> None:
    documents(spark, workload, seed, partitions).write.mode(
        "overwrite").parquet(path)
