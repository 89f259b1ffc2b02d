#!/usr/bin/env python
"""Isolated re-measure for flagged bench rows (VERDICT r13 ask #3):
`python scripts/bench_one.py NAME [NAME ...] [--reps 5] [--sf DIR]
[--cpus N] [--jobs]`.

Runs each named query `reps` times back to back with the bench's exact
timed region (build the frame, noop-sink write) and prints per-rep
seconds, the min, and — with --jobs — the Spark job count per rep from
the DAG scheduler's job counter, so a wall-clock claim can be pinned to a
structural job-count assertion instead of a noisy shared-box timing.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--jobs", action="store_true",
                    help="print per-rep Spark job counts")
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)

    from yaml_pipe_spark.entrypoints import REGISTRY
    from yaml_pipe_spark.session import get_spark

    spark = get_spark("bench-one", cpus=args.cpus)
    # the same warm-up surface bench.py touches
    spark.range(1000).selectExpr("sum(id)").collect()
    # job ids come from the DAG scheduler's counter, which — unlike the
    # status tracker's job lists, capped at spark.ui.retainedJobs — stays
    # exact however many jobs ran before
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    for name in args.names:
        if name not in REGISTRY:
            print(f"unknown query: {name}")
            return 2
        fn = REGISTRY[name].fn
        times = []
        for rep in range(args.reps):
            n0 = dag.numTotalJobs()
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            t = time.perf_counter() - t0
            times.append(t)
            if args.jobs:
                n1 = dag.numTotalJobs()
                print(f"  {name} rep{rep}: {t:.3f}s  jobs={n1 - n0}")
            else:
                print(f"  {name} rep{rep}: {t:.3f}s")
        print(f"{name}: min {min(times):.3f}s over {len(times)} reps "
              f"(mean {sum(times)/len(times):.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
