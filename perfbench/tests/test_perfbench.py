"""Tests of the benchmark itself: metric names, the output check, and
seeded corpus generation.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

import check
import corpus
import run
import trace_run
import worker

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK_JSON = os.path.join(worker.ROOT, "BENCHMARK.json")


def test_metric_names_are_well_formed():
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += list(run.END_TO_END) + list(run.UNITS) + list(
        trace_run.LAYER_METRICS)
    for name in names:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64, name


def test_benchmark_json_matches_what_the_runs_emit():
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(
        trace_run.LAYER_METRICS)
    for m in bench["end_to_end"]:
        assert m["unit"] == run.UNITS[m["name"]]
    for m in bench["per_layer"]:
        assert m["unit"] == trace_run.LAYER_METRICS[m["name"]][1]
    assert {w["name"] for w in bench["workloads"]} <= set(worker.WORKLOADS)


def test_parse_metric():
    assert trace_run.parse_metric("1,622") == 1622
    assert trace_run.parse_metric("0.0 B") == 0
    assert trace_run.parse_metric(
        "total (min, med, max (stageId: taskId))\n4.5 MiB (1.0 KiB, 1.1 KiB,"
        " 1.2 KiB (stage 2.0: task 6))") == 4.5 * 2**20
    assert trace_run.parse_metric("total (min, med, max)\n76 ms (8 ms)") == (
        pytest.approx(0.076))


def _digest(spark, workload, seed, n_docs=40):
    return check.corpus_digest(corpus.documents(spark, workload, seed, 2,
                                                n_docs=n_docs))


@pytest.mark.parametrize("workload", ["scattered", "station_dense"])
def test_corpus_digest_follows_the_seed(spark, workload):
    a = _digest(spark, workload, 3)
    assert a == _digest(spark, workload, 3)
    assert a != _digest(spark, workload, 4)


def test_station_dense_corpus_shape(spark):
    from bufr2geojson_spark.operators.decode import decode_documents

    docs = corpus.documents(spark, "station_dense", 5, 2, n_docs=400)
    rows = decode_documents(docs).agg(
        F.count(F.col("error")).alias("errors"),
        F.countDistinct(F.when(F.col("error").isNull(),
                               F.struct("lat", "lon"))).alias("sites"),
    ).first()
    # malformed documents quarantine; reports sit on few exact sites
    assert rows["errors"] >= 1
    assert rows["sites"] <= 50


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    from bufr2geojson_spark.plans.pipeline import PipelineConfig, run_pipeline

    work = str(tmp_path_factory.mktemp("pipe"))
    docs = corpus.documents(spark, "station_dense", 1, 2, n_docs=120)
    docs.write.parquet(os.path.join(work, "docs"))
    docs = spark.read.parquet(os.path.join(work, "docs"))
    stations, polygons = corpus.dimensions(spark, 1)
    res = run_pipeline(spark, docs, stations, polygons, work, "r",
                       conf=PipelineConfig(hot_threshold=20))
    return docs, res, os.path.join(work, "r", "_lineage")


def test_pipeline_output_passes_its_own_check(spark, pipeline_run):
    docs, res, lineage = pipeline_run
    observed, problems = check.check_pipeline(spark, docs, res, lineage, 14)
    assert problems == []
    again, problems = check.check_pipeline(spark, docs, res, lineage, 14)
    assert problems == [] and check.compare(again, observed) == []


def test_one_flipped_result_value_fails_the_check(spark, pipeline_run):
    docs, res, lineage = pipeline_run
    observed, _ = check.check_pipeline(spark, docs, res, lineage, 14)
    victim = res.features.filter("result_value is not null").select(
        "feature_id").orderBy("feature_id").first()["feature_id"]
    flipped = res.features.withColumn("result_value", F.when(
        F.col("feature_id") == victim, -F.col("result_value")).otherwise(
        F.col("result_value")))
    res_bad = type(res)(**{**vars(res), "features": flipped})
    flipped_obs, problems = check.check_pipeline(spark, docs, res_bad,
                                                 lineage, 14)
    assert problems == []  # conservation still holds: only the digest sees it
    mismatch = check.compare(flipped_obs, observed)
    assert len(mismatch) == 1 and mismatch[0].startswith("features: digest")


def test_lost_document_fails_the_check(spark, pipeline_run):
    docs, res, lineage = pipeline_run
    victim = res.features.select("doc_id").orderBy("doc_id").first()["doc_id"]
    res_bad = type(res)(**{**vars(res), "features": res.features.filter(
        F.col("doc_id") != victim)})
    _, problems = check.check_pipeline(spark, docs, res_bad, lineage, 14)
    assert any("neither features nor quarantine" in p for p in problems)
