"""Round-15 optimization helper: time named queries in isolation.

Usage: python tools/qtime.py q1_pricing_summary winnow_fingerprints ...
       python tools/qtime.py --reps 4 --explain plans/r15 winnow_fingerprints

Same methodology as bench.py (noop sink, warm pass, min-of-N), one
fresh session per invocation so numbers are comparable to the bench's
per-query entries. With --explain DIR, also writes DIR/<name>.txt with
the formatted physical plan.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="directory to write <name>.txt formatted plans")
    ap.add_argument("--sf", default=None, help="override SPARK_GRAFT_SF_DIR")
    args = ap.parse_args()

    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR",
                                       "/root/testdata/sf0.1")

    from evolution_spark.queries import QUERIES
    from evolution_spark.session import get_spark

    spark = get_spark(app_name="evolution-spark-qtime")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run(name: str) -> None:
        spark.sparkContext.setJobDescription(f"qtime: {name}")
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        spark.sparkContext.setJobDescription(None)

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in args.names:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)

    for name in args.names:          # warm pass (JIT + codegen)
        run(name)
    samples: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(args.reps):
        for name in args.names:
            t0 = time.perf_counter()
            run(name)
            samples[name].append(time.perf_counter() - t0)
    out = {n: {"min": round(min(s), 3), "all": [round(x, 3) for x in s]}
           for n, s in samples.items()}
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
