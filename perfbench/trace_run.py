"""The traced run: per-layer metrics of one workload, from outside the program.

Separate from the timed runs. After the same set-up and warm-up, it runs the
workload untraced, traced, and untraced again; the traced wall minus the
mean of the two untraced walls is the tracing overhead. During the traced
run every call into the public functions of the program's layers is wrapped
in a span (name, start, end, parent), kept in memory and returned at the
end. Spark fuses D/T/J into one task, so bytes, rows and shuffle figures
are read from Spark's own status stores after the run, per SQL execution
and per Python / Exchange node; each execution belongs to the innermost
span open when it was submitted. Busy time per
layer comes from stage-isolated replays: each layer's function alone over a
cached input, timed on its second run.

Each row of the per-layer table says whether the workload's program call
runs that layer (``"ran"``). Busy times come from replays over the
workload's own corpus and are measured for every layer; figures taken from
the traced program call read 0 where it does not run the layer.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import statistics
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

import worker

STAGES = ("D", "T", "J", "A", "W")

#: per-layer metric -> (layer module, unit, base of the ratio or None)
LAYER_METRICS = {
    "sources.docs_in": ("sources.io", "count", None),
    "sources.scan_bytes": ("sources.io", "B", None),
    "decode.busy_s": ("operators.decode", "s", None),
    "decode.rows_out": ("operators.decode", "count", None),
    "decode.quarantine_rows": ("operators.decode", "count", None),
    "decode.py_bytes_in": ("operators.decode", "B", None),
    "decode.py_bytes_out": ("operators.decode", "B", None),
    "decode.py_bytes_out_per_feature": ("operators.decode", "B",
                                        "decoded feature rows (error is null)"),
    "cells.busy_s": ("functions.cells", "s", None),
    "cells.py_bytes_in": ("functions.cells", "B", None),
    "cells.py_bytes_out": ("functions.cells", "B", None),
    "pip.busy_s": ("operators.spatial", "s", None),
    "pip.match_share": ("operators.spatial", "fraction",
                        "feature rows out of J"),
    "knn.busy_s": ("operators.spatial", "s", None),
    "knn.ring_mean": ("operators.spatial", "ring", "feature rows out of J"),
    "knn.ring_max": ("operators.spatial", "ring", None),
    "spatial.py_crossings": ("operators.spatial", "count", None),
    "tiles.agg_busy_s": ("operators.tiles", "s", None),
    "tiles.hot_cells": ("operators.tiles", "count", None),
    "tiles.salted_row_share": ("operators.tiles", "fraction",
                               "feature rows into A"),
    "tiles.shuffle_bytes": ("operators.tiles", "B", None),
    "tiles.rows_out": ("operators.tiles", "count", None),
    "tiles.rangepart_busy_s": ("operators.tiles", "s", None),
    "tiles.rangepart_shuffle_bytes": ("operators.tiles", "B", None),
    "tiles.spill_bytes": ("operators.tiles", "B", None),
    "tiles.partition_skew": ("operators.tiles", "ratio",
                             "median rows of a W partition"),
    **{f"lineage.write_s.{s}": ("plans.lineage", "s", None) for s in STAGES},
    **{f"lineage.pass_s.{s}": ("plans.lineage", "s", None) for s in STAGES},
    "lineage.bytes_written": ("plans.lineage", "B", None),
    "lineage.feature_table_writes": ("plans.lineage", "count", None),
    **{f"pipeline.stage_s.{s}": ("plans.pipeline", "s", None) for s in STAGES},
    "pipeline.driver_s": ("plans.pipeline", "s", None),
    "geojson.busy_s": ("functions.geojson", "s", None),
    "geojson.py_bytes_out": ("functions.geojson", "B", None),
    "geojson.files_written": ("functions.geojson", "count", None),
    "geojson.bytes_per_feature": ("functions.geojson", "B",
                                  "GeoJSON features written"),
    "trace.overhead_s": ("perfbench", "s", "traced minus untraced wall"),
}

#: the public functions a span wraps, by the module attribute they are
#: looked up through at call time
TRACED = (
    ("bufr2geojson_spark.sources.io", "read_snapshot"),
    ("bufr2geojson_spark.plans.pipeline", "run_pipeline"),
    ("bufr2geojson_spark.plans.pipeline", "decode_documents"),
    ("bufr2geojson_spark.plans.pipeline", "with_cells"),
    ("bufr2geojson_spark.plans.pipeline", "assign_region"),
    ("bufr2geojson_spark.plans.pipeline", "knn_join"),
    ("bufr2geojson_spark.plans.pipeline", "tile_aggregate"),
    ("bufr2geojson_spark.plans.pipeline", "tile_rollup"),
    ("bufr2geojson_spark.plans.pipeline", "range_partition_by_cell"),
    ("bufr2geojson_spark.plans.lineage", "write_stage"),
    ("bufr2geojson_spark.plans.lineage", "lineage_of"),
    ("bufr2geojson_spark.operators.decode", "decode_documents"),
    ("bufr2geojson_spark.functions.cells", "with_cells"),
    ("bufr2geojson_spark.functions.geojson", "write_geojson"),
    ("bufr2geojson_spark.functions.geojson", "to_geojson"),
)


class Tracer:
    """In-memory spans around calls into the program's public functions."""

    def __init__(self):
        self.spans = []
        self._open = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": self._open[-1]["id"] if self._open
               else None, **attrs}
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if name == "write_stage":
                attrs["stage"] = args[4] if len(args) > 4 else kwargs["stage"]
            with self.span(name, **attrs):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Wrap every TRACED function for the duration of the block."""
        import importlib

        saved = []
        for mod_name, attr in TRACED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(attr, fn))
        try:
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def innermost(self, t: float):
        """The innermost span open at time ``t`` (epoch seconds)."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric ("4.4 MiB (...)", "1,622", "9.7 s")."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d.,]+)\s*([A-Za-z]*)", total)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StatusReader:
    """Executions, plan nodes and stage figures from Spark's status stores."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def count(self) -> int:
        return self.sql.executionsList().size()

    def executions(self, since: int) -> list[dict]:
        lst = self.sql.executionsList()
        out = []
        for i in range(since, lst.size()):
            e = lst.apply(i)
            end = e.completionTime()
            out.append({
                "id": e.executionId(),
                "start": e.submissionTime() / 1000.0,
                "end": end.get().getTime() / 1000.0 if end.isDefined()
                else None,
                "plan": e.physicalPlanDescription(),
                "java": e,
            })
        return out

    def nodes(self, ex: dict) -> list[tuple[str, dict]]:
        """(node name, {metric name: value}) for every plan node."""
        metrics = self.sql.executionMetrics(ex["id"])
        nodes = self.sql.planGraph(ex["id"]).allNodes()
        out = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            ms = node.metrics()
            vals = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                v = metrics.get(m.accumulatorId())
                if v.isDefined():
                    vals[m.name()] = parse_metric(v.get())
            out.append((node.name(), vals))
        return out

    def stage_sums(self, ex: dict) -> dict:
        """Raw shuffle-write and spill bytes over an execution's stages."""
        sums = {"shuffle_write": 0, "spill": 0}
        it = ex["java"].stages().iterator()
        while it.hasNext():
            try:
                sd = self.app.lastStageAttempt(int(it.next()))
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            sums["shuffle_write"] += sd.shuffleWriteBytes()
            sums["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return sums


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def python_bytes(reader, ex, node_name: str) -> tuple[float, float, float]:
    """(bytes sent, bytes returned, output rows) of ``node_name`` nodes."""
    sent = back = rows = 0.0
    for name, vals in reader.nodes(ex):
        if name == node_name:
            sent += vals.get("data sent to Python workers", 0.0)
            back += vals.get("data returned from Python workers", 0.0)
            rows += vals.get("number of output rows", 0.0)
    return sent, back, rows


def union_seconds(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def replay(reader, df):
    """Run ``df`` to the noop sink twice; the second run's seconds and SQL
    execution (the first compiles the plan)."""
    for _ in range(2):
        before = reader.count()
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        secs = time.monotonic() - t0
    return secs, reader.executions(before)[-1]


def traced(spark, workload: str, seed: int, work: str) -> dict:
    from bufr2geojson_spark.sources.io import list_data_files

    import check

    runner = worker.Runner(spark, workload, seed, work)
    pinned = worker.pinned_digests(workload, seed, runner.warm_up())
    untraced = [runner.run_once()]

    reader = StatusReader(spark)
    tracer = Tracer()
    first = reader.count()
    out = os.path.join(work, "traced")
    with tracer.patched():
        t0 = time.monotonic()
        if runner.spec["kind"] == "pipeline":
            docs, res = runner.pipeline_call(out)
            res.features.count()
            res.tiles.count()
        else:
            res = runner.geojson_call(out)
        traced_wall = time.monotonic() - t0
    if runner.spec["kind"] == "pipeline":
        observed, problems = check.check_pipeline(
            spark, docs, res, os.path.join(out, "_lineage"),
            runner.conf.s2_level)
    else:
        observed, _, problems = check.check_geojson(spark, out)
    problems += check.compare(observed, pinned)
    untraced.append(runner.run_once())
    untraced_wall = statistics.mean(r["wall_s"] for r in untraced)
    failed = sum(bool(p) for p in [problems] + [
        r["problems"] + check.compare(r["observed"], pinned)
        for r in untraced])
    executions = reader.executions(first)
    for ex in executions:
        span = tracer.innermost(ex["start"])
        ex["span"] = span["id"] if span else None

    m = {name: 0.0 for name in LAYER_METRICS}
    ran = {"sources.io", "operators.decode", "functions.cells", "perfbench"}
    m["trace.overhead_s"] = traced_wall - untraced_wall
    docs_files = list_data_files(spark, runner.docs_path)
    m["sources.scan_bytes"] = sum(n for _, n in docs_files)
    m["sources.docs_in"] = spark.read.parquet(runner.docs_path).count()

    if runner.spec["kind"] == "pipeline":
        ran |= {"operators.spatial", "operators.tiles", "plans.lineage",
                "plans.pipeline"}
        _pipeline_metrics(spark, reader, tracer, executions, runner, res,
                          out, m)
    else:
        ran.add("functions.geojson")
        files = list_data_files(spark, out)
        m["geojson.files_written"] = len(files)
        n_written = spark.read.text(out).count()
        m["geojson.bytes_per_feature"] = (
            sum(n for _, n in files) / n_written if n_written else 0.0)
    _replays(spark, reader, runner, m)

    report = {
        name: {"value": m[name], "unit": unit, "layer": layer,
               "base": base, "ran": layer in ran}
        for name, (layer, unit, base) in LAYER_METRICS.items()
    }
    spans = [{k: s[k] for k in ("id", "name", "start", "end", "parent")}
             for s in tracer.spans]
    return {
        "workload": workload,
        "seed": seed,
        "attempted": 3,
        "failed": failed,
        "metrics": {k: (v["value"], v["unit"]) for k, v in report.items()},
        "report": {"seed": seed, "untraced_wall_s": untraced_wall,
                   "traced_wall_s": traced_wall, "metrics": report,
                   "spans": spans},
    }


def _pipeline_metrics(spark, reader, tracer, executions, runner, res, out, m):
    from bufr2geojson_spark.operators.tiles import hot_cells

    conf = runner.conf
    by_span = {}
    for ex in executions:
        by_span.setdefault(ex["span"], []).append(ex)
    run_span = next(s for s in tracer.spans if s["name"] == "run_pipeline")
    inside = [(ex["start"], ex["end"]) for ex in executions
              if ex["end"] and run_span["start"] <= ex["start"]
              <= run_span["end"]]
    m["pipeline.driver_s"] = (run_span["end"] - run_span["start"]
                              - union_seconds(inside))

    feature_writes = 0
    for s in tracer.spans:
        if s["name"] != "write_stage":
            continue
        stage = s["stage"]
        m[f"pipeline.stage_s.{stage}"] = s["end"] - s["start"]
        for ex in by_span.get(s["id"], []):
            secs = (ex["end"] or ex["start"]) - ex["start"]
            if "/_lineage/" in ex["plan"]:
                m[f"lineage.pass_s.{stage}"] += secs
                continue
            if "InsertIntoHadoopFsRelationCommand" not in ex["plan"]:
                continue
            m[f"lineage.write_s.{stage}"] += secs
            if stage != "A":
                feature_writes += 1
            if stage == "J":
                m["spatial.py_crossings"] = sum(
                    1 for name, _ in reader.nodes(ex) if is_python_node(name))
            if stage == "A":
                m["tiles.shuffle_bytes"] = reader.stage_sums(ex)["shuffle_write"]
            if stage == "W":
                sums = reader.stage_sums(ex)
                m["tiles.rangepart_shuffle_bytes"] = sums["shuffle_write"]
                m["tiles.spill_bytes"] = sums["spill"]
    m["lineage.feature_table_writes"] = feature_writes
    m["lineage.bytes_written"] = worker.dir_bytes(os.path.join(out, "_lineage"))

    w_rows = [r["row_count"] for r in spark.read.parquet(
        os.path.join(out, "_lineage", "W")).select("row_count").collect()]
    m["tiles.partition_skew"] = max(w_rows) / statistics.median(w_rows)

    feats = res.features
    f = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("region_id").alias("matched"),
        F.avg("knn_ring").alias("ring_mean"),
        F.max("knn_ring").alias("ring_max"),
    ).first()
    m["pip.match_share"] = f["matched"] / f["n"]
    m["knn.ring_mean"] = float(f["ring_mean"])
    m["knn.ring_max"] = float(f["ring_max"])
    hot = hot_cells(feats, "cell_s2", conf.hot_threshold).agg(
        F.count(F.lit(1)).alias("cells"),
        F.sum("cell_count").alias("rows")).first()
    m["tiles.hot_cells"] = hot["cells"]
    m["tiles.salted_row_share"] = (hot["rows"] or 0) / f["n"]
    m["tiles.rows_out"] = res.tiles.count()


def _replays(spark, reader, runner, m):
    """Busy time and Python bytes per layer, one layer at a time over a
    cached input (its second run, so plan compilation is not counted).
    Every layer is replayed on every workload's corpus, including layers
    the workload's own program call does not run."""
    from bufr2geojson_spark.functions.cells import with_cells
    from bufr2geojson_spark.functions.geojson import to_geojson
    from bufr2geojson_spark.operators.decode import decode_documents
    from bufr2geojson_spark.operators.spatial import assign_region, knn_join
    from bufr2geojson_spark.operators.tiles import (
        range_partition_by_cell, tile_aggregate, tile_rollup)

    conf = runner.conf
    cached = []

    def cache(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    docs = cache(spark.read.parquet(runner.docs_path))
    decoded = decode_documents(docs, guess_wsi=conf.guess_wsi,
                               result_time=conf.result_time)
    m["decode.busy_s"], ex = replay(reader, decoded)
    sent, back, rows = python_bytes(reader, ex, "MapInPandas")
    m["decode.py_bytes_in"], m["decode.py_bytes_out"] = sent, back
    m["decode.rows_out"] = rows
    d = cache(decoded)
    n_quarantine = d.filter("error is not null").count()
    m["decode.quarantine_rows"] = n_quarantine
    m["decode.py_bytes_out_per_feature"] = back / (rows - n_quarantine)

    cells = with_cells(d.filter("error is null"), s2_level_=conf.s2_level,
                       hex_res_=conf.hex_res, prefix_bits=conf.prefix_bits)
    m["cells.busy_s"], ex = replay(reader, cells)
    m["cells.py_bytes_in"], m["cells.py_bytes_out"], _ = python_bytes(
        reader, ex, "ArrowEvalPython")
    t = cache(cells)

    m["pip.busy_s"], _ = replay(reader, assign_region(t, runner.polygons))
    m["knn.busy_s"], _ = replay(reader, knn_join(
        t, runner.stations, k=conf.knn_k, grid_deg=conf.knn_grid_deg))
    j = cache(knn_join(assign_region(t, runner.polygons), runner.stations,
                       k=conf.knn_k, grid_deg=conf.knn_grid_deg))
    m["tiles.agg_busy_s"], _ = replay(reader, tile_rollup(
        tile_aggregate(j, cell_col="cell_s2", value_col="result_value",
                       salt_buckets=conf.salt_buckets,
                       hot_threshold=conf.hot_threshold),
        conf.s2_level, list(conf.rollup_levels), cell_col="cell_s2"))
    m["tiles.rangepart_busy_s"], _ = replay(reader, range_partition_by_cell(
        j, conf.output_partitions, "cell_s2", "cell_prefix"))
    m["geojson.busy_s"], ex = replay(reader, to_geojson(t))
    _, m["geojson.py_bytes_out"], _ = python_bytes(reader, ex,
                                                   "ArrowEvalPython")
    for df in cached:
        df.unpersist()

