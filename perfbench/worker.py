"""One workload in one fresh JVM: set up, warm up, time, check.

Started by ``run.py`` as a child process, so every workload gets its own
JVM at ``local[N]`` (N = the CPUs this process may run on). Prints one JSON
object on its last stdout line. Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload -> corpus, entry point and checkpointed stages. station_dense
#: keeps the PipelineConfig default (every stage checkpointed), which is
#: what jobs/pipeline.py runs without --checkpoints.
WORKLOADS = {
    "scattered": {"corpus": "scattered", "kind": "pipeline",
                  "checkpoints": ("J", "A", "W")},
    "station_dense": {"corpus": "station_dense", "kind": "pipeline",
                      "checkpoints": None},
    "geojson_export": {"corpus": "scattered", "kind": "geojson",
                       "checkpoints": None},
}

#: untimed iterations before timing. Measured walls (s) of consecutive runs
#: in one fresh local[4] JVM: station_dense 15.7, 9.5 | 8.3, 8.5, 7.8, 7.6;
#: geojson_export 4.8, 2.8 | 2.5, 2.5, 2.3, 2.3. The first two time class
#: loading, Python worker start-up and most of the JIT; a single one would
#: time them. The JIT keeps improving slowly after that (about 10 % over the
#: next six runs), so every run times the same stretch: a fixed count keeps
#: runs, and their set-up times, comparable.
WARMUP = 2
#: timed iterations per run, at least (the run also fills --seconds)
TIMED_MIN = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str, n: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class RssSampler:
    """Peak resident memory of a process tree (the JVM and the Python
    workers it forks), sampled from /proc while running.

    Each process counts its proportional set size (PSS): pages shared by
    several processes are split between them. Summing plain RSS would count
    the JVM twice whenever it forks a helper command (the child shows the
    parent's whole RSS until it execs)."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_pss(self) -> int:
        parent = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    stat = fh.read()
                parent[int(p)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {self.root}, [self.root]
        while frontier:
            kids = [c for c, pp in parent.items() if pp in frontier]
            frontier = [k for k in kids if k not in tree]
            tree.update(frontier)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_pss())


class Runner:
    """One workload's program calls on one session."""

    def __init__(self, spark, workload: str, seed: int, work: str):
        from bufr2geojson_spark.plans.pipeline import PipelineConfig

        import corpus

        self.spark = spark
        self.spec = WORKLOADS[workload]
        self.work = work
        self.docs_path = os.path.join(work, "docs")
        self.conf = PipelineConfig()
        if self.spec["checkpoints"]:
            self.conf.checkpoint_stages = self.spec["checkpoints"]
        corpus.write_documents(spark, self.spec["corpus"], seed,
                               self.docs_path, cores())
        self.stations, self.polygons = corpus.dimensions(spark, seed)
        self.n = 0

    def warm_up(self) -> list[dict]:
        """The untimed warm-up iterations (see WARMUP)."""
        return [self.run_once() for _ in range(WARMUP)]

    def run_once(self) -> dict:
        """One timed program run plus its (untimed) output check."""
        import check

        self.n += 1
        out = os.path.join(self.work, "runs", f"it{self.n}")
        t0 = time.monotonic()
        if self.spec["kind"] == "pipeline":
            docs, res = self.pipeline_call(out)
            features = res.features.count()
            rows = features + res.tiles.count()
            wall = time.monotonic() - t0
            observed, problems = check.check_pipeline(
                self.spark, docs, res, os.path.join(out, "_lineage"),
                self.conf.s2_level)
        else:
            self.geojson_call(out)
            wall = time.monotonic() - t0
            observed, features, problems = check.check_geojson(self.spark,
                                                               out)
            rows = features
        rec = {"wall_s": wall, "features": features, "rows": rows,
               "observed": observed, "problems": problems,
               "written_bytes": dir_bytes(out)}
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def pipeline_call(self, out: str):
        """``run_pipeline`` as jobs/pipeline.py calls it, on the documents
        table read through ``read_snapshot``; returns (docs, result)."""
        from bufr2geojson_spark.plans.pipeline import run_pipeline
        from bufr2geojson_spark.sources.io import read_snapshot

        docs, snap = read_snapshot(self.spark, self.docs_path)
        res = run_pipeline(self.spark, docs, self.stations, self.polygons,
                           os.path.dirname(out), os.path.basename(out),
                           snapshot_id=snap, resume=False, conf=self.conf)
        return docs, res

    def geojson_call(self, out: str) -> None:
        """decode -> cells -> GeoJSON export of the documents table."""
        from bufr2geojson_spark.functions.cells import with_cells
        from bufr2geojson_spark.functions.geojson import write_geojson
        from bufr2geojson_spark.operators.decode import decode_documents
        from bufr2geojson_spark.sources.io import read_snapshot

        docs, _ = read_snapshot(self.spark, self.docs_path)
        feats = decode_documents(docs, guess_wsi=self.conf.guess_wsi,
                                 result_time=self.conf.result_time)
        write_geojson(with_cells(feats.filter("error is null"),
                                 s2_level_=self.conf.s2_level,
                                 hex_res_=self.conf.hex_res,
                                 prefix_bits=self.conf.prefix_bits), out)


def expected_for(workload: str, seed: int) -> dict | None:
    path = os.path.join(HERE, "expected.json")
    with open(path) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def pinned_digests(workload: str, seed: int, warm: list[dict]) -> dict:
    """The digests every later iteration must reproduce: the stored ones
    for a recorded seed, otherwise the first warm-up iteration's."""
    for rec in warm:
        if rec["problems"]:
            raise RuntimeError(f"warm-up output check failed: {rec['problems']}")
    expected = expected_for(workload, seed)
    return expected if expected is not None else warm[0]["observed"]


def timed(spark, workload: str, seed: int, seconds: float, work: str,
          t_start: float) -> dict:
    import check

    runner = Runner(spark, workload, seed, work)
    warm = runner.warm_up()
    pinned = pinned_digests(workload, seed, warm)
    setup_s = time.monotonic() - t_start

    runs = []
    jvm = spark.sparkContext._gateway.proc.pid
    with RssSampler(jvm) as rss:
        t0 = time.monotonic()
        while len(runs) < TIMED_MIN or time.monotonic() - t0 < seconds:
            try:
                rec = runner.run_once()
                rec["problems"] += check.compare(rec["observed"], pinned)
            except Exception as e:  # a failed iteration counts, not aborts
                rec = {"error": repr(e), "problems": [repr(e)]}
            runs.append(rec)
    ok = [r for r in runs if not r["problems"]]
    failed = len(runs) - len(ok)
    for r in runs:
        for p in r["problems"]:
            print(f"[{workload}] check failed: {p}", file=sys.stderr)
    if not ok:
        raise RuntimeError(f"all {len(runs)} timed iterations failed")
    walls = [r["wall_s"] for r in ok]
    wall = statistics.median(walls)
    rows = statistics.median(r["rows"] for r in ok)
    written = statistics.median(r["written_bytes"] / r["features"] for r in ok)
    return {
        "workload": workload,
        "seed": seed,
        "attempted": len(runs),
        "failed": failed,
        "expected_stored": expected_for(workload, seed) is not None,
        "warmup_walls_s": [r["wall_s"] for r in warm],
        "timed_walls_s": walls,
        "metrics": {
            "setup_s": setup_s,
            "wall_s": wall,
            "features_tiles_per_s": rows / wall,
            "written_bytes_per_feature": written,
            "peak_rss_mb": rss.peak / 2**20,
            "failed_share": failed / len(runs),
        },
    }


def main() -> None:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    os.makedirs(args.work, exist_ok=True)
    spark = build_session(args.work, cores())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.trace:
            import trace_run

            result = trace_run.traced(spark, args.workload, args.seed,
                                      args.work)
        else:
            result = timed(spark, args.workload, args.seed, args.seconds,
                           args.work, t_start)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
