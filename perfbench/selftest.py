"""Self-test of the benchmark: every workload at a tiny size, untraced and
traced.

    python3 perfbench/selftest.py

Run from the root of a checkout. Each run uses 10k-row inputs and a
two-second measuring window. The test asserts that the last line of each
run holds every metric ``BENCHMARK.json`` names for that mode, each with
its unit, and that no op failed (``failed == 0``, so the error rate is 0).
It takes a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7", "--seconds", "2",
                   "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            label = f"{w['name']} trace={trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if result["failed"] != 0 or not result["correct"] or result["attempted"] < 1:
                problems.append(f"{label}: {result['failed']} of {result['attempted']} ops failed")
            got = result["metrics"]
            for m in spec[kind]:
                v = got.get(m["name"])
                if v is None or v["unit"] != m["unit"] or not math.isfinite(v["value"]):
                    problems.append(f"{label}: metric {m['name']} missing or malformed: {v}")
            if kind == "end_to_end":
                zero = [k for k, v in got.items() if v["value"] <= 0]
                if zero:
                    problems.append(f"{label}: end-to-end metrics not positive: {zero}")
            status = "ok" if len(problems) == before else "FAIL"
            print(f"{label}: {status}, {len(got)} metrics, {result['attempted']} ops", flush=True)
    for msg in problems:
        print("FAIL", msg, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
