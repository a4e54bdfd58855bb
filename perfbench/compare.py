"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is a list of run records (the ``.json`` files ``run.py`` writes
under ``.perfbench/results/``) or directories holding them. For every
workload and end-to-end metric it prints both medians, both sides'
spreads (quartile distance over median) and whether the new median is
worse than the base one by more than the metric's bound in
``BENCHMARK.json``. It refuses to compare results taken at different
core counts, since every time metric scales with them.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _records(args: list[str]) -> list[dict]:
    files: list[Path] = []
    for a in args:
        p = Path(a)
        files += sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def _spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else float("nan")


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    # Traced and self-test runs measure something else; leave them out.
    base = [r for r in _records(argv[:cut]) if not (r["env"]["trace"] or r["env"]["tiny"])]
    new = [r for r in _records(argv[cut + 1:]) if not (r["env"]["trace"] or r["env"]["tiny"])]
    cores = {r["env"]["nproc"] for r in base + new}
    if len(cores) != 1:
        print(f"refusing to compare results taken at different core counts: {sorted(cores)}",
              file=sys.stderr)
        return 3
    (nproc,) = cores
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    worse = 0
    for w in (w["name"] for w in spec["workloads"]):
        b = [r for r in base if r["env"]["workload"] == w]
        n = [r for r in new if r["env"]["workload"] == w]
        if not (b and n):
            continue
        print(f"{w}: base {len(b)} runs, new {len(n)} runs, {nproc} cores")
        for m in spec["end_to_end"]:
            bv = [r["metrics"][m["name"]]["value"] for r in b]
            nv = [r["metrics"][m["name"]]["value"] for r in n]
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else float("nan")
            if m["better"] == "higher":
                change = -change
            verdict = "worse" if change > m["bound"] else "ok"
            worse += verdict == "worse"
            print(f"  {m['name']:24s} {bm:12.5g} -> {nm:12.5g} {m['unit']:7s} "
                  f"{change:+7.1%} worse (bound {m['bound']:.0%}, spread {_spread(bv):.1%} -> "
                  f"{_spread(nv):.1%}) {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
