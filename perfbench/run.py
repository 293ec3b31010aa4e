"""Benchmark of the shipped pipeline (``plans.pipeline.run_pipeline``) and
GeoJSON sink (``functions.geojson.write_geojson``).

Usage, from the repository root::

    python3 perfbench/run.py --workload scattered --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload
    python3 perfbench/run.py --workload all --seed 1 --trace 1 --report perfbench/layers.json

Each workload runs in a child process with its own fresh JVM (see
worker.py). ``--trace 0`` prints the end-to-end metrics of timed runs that
fill ``--seconds``; ``--trace 1`` runs the separate traced run and prints
the per-layer metrics. Every metric is
printed as ``name value unit`` and the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Working files live under
``.perfbench_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

from worker import HERE, ROOT, WORKLOADS

CHILD_TIMEOUT_S = 170

UNITS = {
    "setup_s": "s", "wall_s": "s", "features_tiles_per_s": "rows/s",
    "written_bytes_per_feature": "B", "peak_rss_mb": "MiB",
    "failed_share": "fraction",
}
#: end-to-end metrics in the result object. Also printed, not emitted:
#: failed_share reads 0 on a correct program (the object carries it as
#: "failed"/"attempted"), and peak_rss_mb moves by up to a third between
#: fresh JVMs of one commit, with how many Python workers Spark keeps and
#: how much memory each still holds, too far to gate a comparison on.
END_TO_END = ("setup_s", "wall_s", "features_tiles_per_s",
              "written_bytes_per_feature")


def child_env(work: str) -> dict:
    """Environment of a benchmark JVM: Python workers find the program and
    the corpus generators, and every temporary file stays under ``work``."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYTHONHASHSEED"] = "0"  # same str hashing in driver and workers
    # the JVM that spark-submit starts to build its command line would
    # otherwise write its perf counters under /tmp
    env["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [env.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    return env


def run_workload(workload: str, seed: int, seconds: float, trace: int,
                 work_root: str) -> dict:
    work = os.path.join(work_root, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = child_env(work)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work]
    # own process group: on a timeout the JVM and its Python workers go too
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            cwd=ROOT, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"perfbench: {workload} exceeded {CHILD_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: {workload} worker exited with "
                         f"{proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])


def _fmt(values) -> str:
    return "[" + ", ".join(f"{v:.2f}" for v in values) + "]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", default=None,
                    help="with --trace 1: also write the per-layer table "
                         "(JSON) to this path")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "bufr2geojson_spark")):
        print("perfbench: no bufr2geojson_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = []
    try:
        for w in names:
            results.append(run_workload(w, args.seed, args.seconds,
                                        args.trace, work_root))
    finally:
        shutil.rmtree(work_root, ignore_errors=True)

    metrics = {}
    for r in results:
        tag = f"[{r['workload']}]"
        prefix = f"{r['workload']}." if len(results) > 1 else ""
        if args.trace:
            for name, (value, unit) in r["metrics"].items():
                print(f"{tag} {name} {value:.6g} {unit}")
                metrics[prefix + name] = {"value": value, "unit": unit}
            continue
        print(f"{tag} warm-up walls {_fmt(r['warmup_walls_s'])} s, timed "
              f"walls {_fmt(r['timed_walls_s'])} s, expected digests stored:"
              f" {r['expected_stored']}")
        for name, value in r["metrics"].items():
            print(f"{tag} {name} {value:.6g} {UNITS[name]}")
        for name in END_TO_END:
            metrics[prefix + name] = {"value": r["metrics"][name],
                                      "unit": UNITS[name]}
    if args.trace and args.report:
        with open(args.report, "w") as fh:
            json.dump({r["workload"]: r["report"] for r in results}, fh,
                      indent=1, sort_keys=True)
            fh.write("\n")
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
