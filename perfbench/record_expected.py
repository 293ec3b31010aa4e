"""Record the expected output digests that the output check compares against.

Usage, from the repository root::

    python3 perfbench/record_expected.py --seeds 0-19

Runs each workload once per seed on the current program and merges the
observed digests into ``perfbench/expected.json``. Record only from a
commit whose output is known good: the stored digests are what every later
run of the benchmark must reproduce for that (workload, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
import worker


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="inclusive range, a-b")
    ap.add_argument("--workload", action="append", default=None)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    work = os.path.join(worker.ROOT, ".perfbench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(run.child_env(work))
    sys.path.insert(0, worker.ROOT)

    path = os.path.join(worker.HERE, "expected.json")
    with open(path) as fh:
        expected = json.load(fh)
    spark = worker.build_session(work, worker.cores())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for w in args.workload or sorted(worker.WORKLOADS):
            for seed in range(lo, hi + 1):
                rec = worker.Runner(spark, w, seed, work).run_once()
                if rec["problems"]:
                    raise SystemExit(f"{w} seed {seed}: {rec['problems']}")
                expected.setdefault(w, {})[str(seed)] = rec["observed"]
                print(w, seed, rec["observed"], flush=True)
    finally:
        spark.stop()
        shutil.rmtree(os.path.dirname(work), ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
