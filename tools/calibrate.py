"""Ambient-VM calibration (BASELINE v5.0 protocol, round 13).

The per-round VMs differ by 15-30% in steady-state speed (adjudicated
with worktree A/Bs in BASELINE v4.9 — old code reads above its own
recordings on newer VMs with identical cProfile call counts). Raw
round-over-round drift checks against FIRST-LINE anchors therefore eat
the 2x contract headroom on paper without any code change.

This script measures the round's AMBIENT FACTOR: five stable anchor
lines with v1-era baselines, run ISOLATED (fresh session, one full
warm pass, then min-of-4), divided by their pinned anchor values. The
median ratio is the round's ambient factor; publish it in BASELINE
and compare in-suite drift against anchor x ambient, not raw anchors.
Any line whose in-suite reading exceeds 1.6x of its first line gets an
isolated re-measure here before being called a regression.

Usage:  python tools/calibrate.py            (sf0.1, local[32])
Prints one JSON line: per-line seconds, ratios, and the median
ambient factor.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# (query, v1-era anchor seconds at sf0.1 — BASELINE.md v1 table)
ANCHORS = [
    ("q1_pricing_summary", 0.85),
    ("q18_large_orders", 1.66),
    ("dedup_minhash_lsh", 1.60),
    ("knn_bruteforce_cosine", 1.33),
    ("asof_join_orders", 0.67),
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from evolution_spark.queries import QUERIES
    from evolution_spark.session import get_spark

    spark = get_spark(app_name="evolution-spark-calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()

    for name, _ in ANCHORS:          # warm pass (JIT + codegen)
        run(name)
    samples = {n: [] for n, _ in ANCHORS}
    for _ in range(4):
        for name, _ in ANCHORS:
            t0 = time.perf_counter()
            run(name)
            samples[name].append(time.perf_counter() - t0)
    out = {}
    ratios = []
    for name, anchor in ANCHORS:
        sec = round(min(samples[name]), 3)
        ratio = round(sec / anchor, 3)
        out[name] = {"sec": sec, "anchor": anchor, "ratio": ratio}
        ratios.append(ratio)
    ratios.sort()
    ambient = round(ratios[len(ratios) // 2], 3)
    print(json.dumps({"metric": "ambient_calibration",
                      "ambient_factor": ambient, "lines": out,
                      "sf_dir": sf_dir}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
