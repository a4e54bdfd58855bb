"""The ``queries`` layer, measured in a traced run: the eight non-FLF
headline queries over the repository's scale-0.001 test tables, in a
seed-permuted order.

``data/sf0.001/`` holds a byte-for-byte copy of the six tables these
queries read from the repository's fixed test data (seed 42, scale
0.001), the tables the queries and their DuckDB oracles are tested on.
The copy lives here because a benchmark run reads only inside its
checkout.

A pass builds each query (``QUERIES[name](spark, dir)``) and forces it
with the noop sink. The first pass compiles; the second collects every
result and checks it against the query's DuckDB oracle; the timed passes
after it report, per query, the build and execution time and the Spark
jobs, shuffle bytes and executor CPU of its job group.

A whole pass is too noisy on a few cores to gate on (one pass is several
seconds, and two passes in one session differ by up to a third), so the
queries are a per-layer breakdown rather than a workload of their own.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import sys
import time
from pathlib import Path

from evolution_spark.queries import ORACLES, QUERIES

from perfbench.harness import Tracer, median

# The eight non-FLF headline queries.
NAMES = (
    "q1_pricing_summary",
    "q18_large_orders",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "asof_join_orders",
    "pagerank_order_graph",
    "triangle_count_copurchase",
    "winnow_fingerprints",
)
METRICS = ("build_s", "exec_s", "jobs", "shuffle_write_bytes", "executor_cpu_s")
DATA = Path(__file__).resolve().parent / "data" / "sf0.001"
TIMED_PASSES = 2


def _canonical(pdf) -> list[str]:
    """Rows as sorted text over name-sorted columns, engine-neutral:
    arrays become lists, NaN becomes None, floats keep 9 significant
    digits (summation order may differ in the last bits)."""
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            if hasattr(v, "tolist"):
                v = v.tolist()
            if isinstance(v, float):
                v = None if math.isnan(v) else float(f"{v:.9g}")
            vals.append(v)
        rows.append(json.dumps(vals, default=str))
    rows.sort()
    return [json.dumps(cols)] + rows


def _fingerprint(pdf) -> tuple[int, str]:
    """Row count and value digest of a result."""
    lines = _canonical(pdf)
    return len(lines) - 1, hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _oracles(data: Path) -> dict[str, tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for f in sorted(data.glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        return {q: _fingerprint(con.sql(ORACLES[q]).df()) for q in NAMES}
    finally:
        con.close()


def measure(spark, tracer: Tracer, seed: int, data: Path = DATA) -> tuple[dict[str, float], list[bool]]:
    """Per-query layer metrics, and one oracle verdict per query."""
    oracle = _oracles(data)
    order = list(NAMES)
    random.Random(seed).shuffle(order)
    for q in order:
        QUERIES[q](spark, str(data)).write.format("noop").mode("overwrite").save()
    verdicts = []
    for q in order:
        got = _fingerprint(QUERIES[q](spark, str(data)).toPandas())
        if got != oracle[q]:
            print(f"{q}: result differs from its DuckDB oracle", file=sys.stderr, flush=True)
        verdicts.append(got == oracle[q])

    recs: dict[str, list[dict]] = {q: [] for q in order}
    for p in range(TIMED_PASSES):
        for q in order:
            group = f"queries{p}/{q}"
            tracer.group(group)
            t0 = time.perf_counter()
            df = QUERIES[q](spark, str(data))
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            recs[q].append({"build_s": t1 - t0, "exec_s": t2 - t1, "group": group})
    tracer.store.drain()
    layers = {}
    for q, rs in recs.items():
        for r in rs:
            st = tracer.group_stats(r.pop("group"))
            r.update(jobs=st["jobs"], shuffle_write_bytes=st["shuffle_write_bytes"],
                     executor_cpu_s=st["executor_cpu_s"])
        for key in METRICS:
            layers[f"queries.{q}.{key}"] = median([r[key] for r in rs])
    return layers, verdicts
