"""Round-15 optimization helper: split a query's bench cost into its
phases.

For each named query, reports (after one warm pass):
  build_s  - time spent calling QUERIES[name](spark, sf_dir): fixture
             writes, driver-side metadata work, plan construction
  exec_s   - time of the noop-sink save of the returned frame
  jobs     - Spark job count in each phase (status tracker delta)

Usage: python tools/qprofile.py name [name ...] [--reps 3] [--profile]
--profile additionally cProfiles the BUILD phase of the last rep and
prints the top driver-side cumulative entries (is the time Python or
JVM waits?).
"""
from __future__ import annotations

import argparse
import cProfile
import io
import json
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--profile", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from evolution_spark.queries import QUERIES
    from evolution_spark.session import get_spark

    spark = get_spark(app_name="evolution-spark-qprofile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    tracker = spark.sparkContext.statusTracker()

    def once(name: str):
        j0 = len(tracker.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        j1 = len(tracker.getJobIdsForGroup(None) or [])
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        j2 = len(tracker.getJobIdsForGroup(None) or [])
        return t1 - t0, t2 - t1, j1 - j0, j2 - j1

    out = {}
    for name in args.names:
        once(name)  # warm
        rows = [once(name) for _ in range(args.reps)]
        best = min(rows, key=lambda r: r[0] + r[1])
        out[name] = {
            "build_s": round(best[0], 3), "exec_s": round(best[1], 3),
            "build_jobs": best[2], "exec_jobs": best[3],
            "total_s": round(best[0] + best[1], 3),
        }
        if args.profile:
            pr = cProfile.Profile()
            pr.enable()
            df = QUERIES[name](spark, sf_dir)
            pr.disable()
            df.write.format("noop").mode("overwrite").save()
            s = io.StringIO()
            pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
            print(f"==== build-phase profile: {name} ====")
            print("\n".join(s.getvalue().splitlines()[:45]))
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
