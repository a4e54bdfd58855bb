"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload convert_parquet --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The metric names and
units come from ``BENCHMARK.json`` at that root: with ``--trace 0`` the
last line holds every end-to-end metric, with ``--trace 1`` every
per-layer metric. A full record of the run (environment, every op, the
spans of a traced run) is written under ``.perfbench/results/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
MIN_FREE_BYTES = 2 << 30
PREPARE_REPS = 3
SELF_TIME_LAYERS = ("op", "converter", "io.flf", "io.delta_log", "spark")
SPARK_OP_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "executor_wait_s",
    "jvm_gc_s", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_s_max_over_p50",
)


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="10k-row inputs, for the self-test")
    return p.parse_args(argv)


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "evolution_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _isolate(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the run's directory."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _per_layer(wl, tracer, session_s: float, untraced_p50: float) -> dict[str, float]:
    from perfbench.harness import median

    recs = tracer.records
    out = {"session.get_spark_s": session_s}
    out["driver.build_s"] = median([r["build_s"] for r in recs])
    out["driver.outside_jobs_s"] = median([r["outside_jobs_s"] for r in recs])
    for k in SPARK_OP_METRICS:
        out[f"spark.{k}"] = median([r[k] for r in recs])
    self_times = tracer.spans.self_times()
    for layer in SELF_TIME_LAYERS:
        out[f"self_s.{layer}"] = self_times.get(layer, 0.0) / max(len(recs), 1)
    out["trace.overhead_s"] = median(tracer.walls[True]) - untraced_p50
    out["read_s_p50"] = median(wl.read_s)
    out.update(wl.layers)
    return out


def main(argv: list[str]) -> int:
    args = _args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "evolution_spark").is_dir():
        print("run from the root of a checkout: no evolution_spark package here", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        print(f"only {free >> 20} MiB free under {ROOT}; need {MIN_FREE_BYTES >> 20}", file=sys.stderr)
        return 3

    work = STATE / f"run-{os.getpid()}"
    _isolate(work)
    sys.path.insert(0, str(ROOT))
    import pyspark

    from evolution_spark.session import get_spark
    from perfbench.harness import Tracer, median, peak_rss_mb, tail_percentile
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    env = {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "tiny": args.tiny,
    }
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark._jvm
        env["jdk"] = str(jvm.java.lang.System.getProperty("java.version"))
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.tiny, tracer)
        prep = []
        for _ in range(PREPARE_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.once()
        once_s = time.perf_counter() - t0
        setup_s = session_s + median(prep) + once_s

        ops = wl.measure(args.seconds)
        done = [o for o in ops if o.seconds is not None]
        secs = [o.seconds for o in done]
        checks = wl.verdicts + wl.finish()
        if args.trace:
            wl.time_builds()
            checks += wl.ladder()
        rss = peak_rss_mb(int(jvm.java.lang.ProcessHandle.current().pid()))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in ops if not o.ok) + checks.count(False)
    attempted = len(ops) + len(checks)
    values = {
        "setup_s": setup_s,
        "op_s_p50": median(secs),
        "rows_per_s": sum(o.rows for o in done) / sum(secs) if secs else 0.0,
        "read_s_p50": median(wl.read_s),
        "bytes_out_per_byte_in": median(wl.bytes_out) / wl.bytes_in if wl.bytes_in else 0.0,
        "jvm_peak_rss_mb": rss,
    }
    if args.trace:
        values = _per_layer(wl, tracer, session_s, median(tracer.walls[False]))
        # A layer this workload does not reach reads 0.
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    env["loadavg_end"] = os.getloadavg()
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    if args.trace:
        tracer.spans.dump(results / f"{stamp}-spans.jsonl")
    record = {
        "env": env,
        "metrics": metrics,
        "n_ops": len(ops),
        "error_rate": failed / attempted,
        "tail": tail_percentile(secs),
        "ops": [o.__dict__ for o in ops],
        "reads_s": wl.read_s,
        "setup": {"session_s": session_s, "prepare_s": prep, "once_s": once_s,
                  "warm_s": wl.warm_s},
        "unlisted_metrics": {k: v for k, v in values.items() if k not in metrics},
    }
    (results / f"{stamp}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
