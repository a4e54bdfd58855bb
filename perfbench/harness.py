"""Measurement plumbing shared by the workloads: order statistics, an
in-memory span recorder, and a reader for Spark's JVM status store.

Everything here observes the program from outside, through its public
functions and Spark's own bookkeeping; nothing is patched into
``evolution_spark``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterator


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs: list[float]) -> dict | None:
    """The highest of p90/p99/p99.9 with at least ten samples beyond it,
    or None when the sample is too small for any of them."""
    n = len(xs)
    best = None
    for p in (90.0, 99.0, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return None
    ordered = sorted(xs)
    k = min(n - 1, int(round(best / 100 * (n - 1))))
    return {"p": best, "value": ordered[k], "n": n}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    """One timed call. ``name`` is ``<layer>/<call>``; calls whose name
    starts with ``build.`` only build a DataFrame (no Spark job)."""

    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split("/", 1)[0]

    @property
    def is_build(self) -> bool:
        return self.name.split("/", 1)[-1].startswith("build.")


@dataclass
class Spans:
    """Spans kept in memory (name, start, end, parent, op id) and written
    out once when the run ends. Disabled, ``span`` only yields."""

    enabled: bool
    op: int | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a finished span measured elsewhere (a Spark job)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, self.op))

    def self_times(self) -> dict[str, float]:
        """Per layer: summed span duration minus the part child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s.end - s.start) - union_length(children.get(i, []))
            out[s.layer] = out.get(s.layer, 0.0) + max(own, 0.0)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


STAGE_FIELDS = {
    # status-store StageData getter -> per-layer metric suffix
    "executorRunTime": "executor_run_s",
    "executorCpuTime": "executor_cpu_s",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
}


class StatusStore:
    """Per-job-group reads of Spark's status store over py4j.

    Works with ``spark.ui.enabled=false``: the store is fed by the listener
    bus, which is drained before every read. Scala ``Seq`` results are
    walked with ``.length()``/``.apply(i)``.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = spark._jvm
        self._store = self._jsc.statusStore()
        self._quantiles = self._sc._gateway.new_array(self._jvm.double, 0)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        """Finished jobs of one job group: id, wall interval (s), stages."""
        out = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            j = self._store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            ids = j.stageIds()
            out.append({
                "job": jid,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "stages": [ids.apply(k) for k in range(ids.length())],
            })
        return out

    def stage_totals(self, stage_ids: list[int]) -> dict[str, float]:
        """Summed stage metrics over every completed attempt of
        ``stage_ids``, plus the slowest task over the median task (skew)."""
        tot = {v: 0.0 for v in STAGE_FIELDS.values()}
        tot.update(stages=0.0, tasks=0.0)
        durations: list[float] = []
        empty = self._jvm.java.util.ArrayList()
        for sid in sorted(set(stage_ids)):
            try:
                seq = self._store.stageData(sid, False, empty, False, self._quantiles)
            except Exception:  # a skipped stage has no entry in the store
                continue
            for k in range(seq.length()):
                s = seq.apply(k)
                if s.status().toString() != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numTasks()
                for getter, name in STAGE_FIELDS.items():
                    tot[name] += getattr(s, getter)()
                tasks = self._store.taskList(sid, s.attemptId(), 1 << 20)
                for t in range(tasks.length()):
                    d = tasks.apply(t).duration()
                    if d.isDefined():
                        durations.append(float(d.get()))
        tot["executor_run_s"] /= 1e3  # ms
        tot["executor_cpu_s"] /= 1e9  # ns
        tot["executor_wait_s"] = max(tot["executor_run_s"] - tot["executor_cpu_s"], 0.0)
        p50 = median(durations)
        tot["task_s_max_over_p50"] = max(durations) / p50 if p50 > 0 else 1.0
        return tot

    def gc_seconds(self) -> float:
        """JVM-wide collector time so far (driver and executors share the
        JVM in local mode)."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3


class Tracer:
    """Job groups, spans and status-store deltas per op.

    Every op gets its own job group in both modes. In a traced run the ops
    alternate: odd ops are traced (spans plus status-store reads after the
    op), even ops are not, so the run also measures what tracing costs.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self._sc = spark.sparkContext
        self.enabled = enabled
        self.spans = Spans(False)
        self.store = StatusStore(spark) if enabled else None
        self.records: list[dict] = []
        self.walls: dict[bool, list[float]] = {True: [], False: []}
        self._groups: list[str] = []

    @property
    def active(self) -> bool:
        """Whether the current op is traced."""
        return self.spans.enabled

    def group(self, name: str) -> None:
        """Run the Spark jobs that follow under job group ``name``."""
        self._sc.setJobGroup(name, name)
        self._groups.append(name)

    def span(self, name: str):
        return self.spans.span(name)

    def time_build(self, i: int, fn) -> float:
        """Run ``fn`` under spans that belong to op ``i``, after the ops,
        and return its time."""
        self.spans.enabled, self.spans.op = True, i
        try:
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0
        finally:
            self.spans.enabled = False

    def close(self) -> None:
        """End the last op: spans after it belong to no op."""
        self.spans.enabled, self.spans.op = False, None

    @contextmanager
    def op(self, i: int) -> Iterator[dict]:
        """Wrap op ``i``; on a traced op the yielded dict is filled with its
        layer record once the op has finished."""
        self.spans.enabled = self.enabled and i % 2 == 1
        self.spans.op = i
        self._groups = []
        self.group(f"op{i}")
        rec: dict = {"op": i}
        gc0 = self.store.gc_seconds() if self.active else 0.0
        first = len(self.spans.spans)
        t0 = time.time()
        with self.spans.span("op/op"):
            yield rec
        t1 = time.time()
        if not self.enabled:
            return
        self.walls[self.active].append(t1 - t0)
        if not self.active:
            return
        self.store.drain()
        jobs = [j for g in self._groups for j in self.store.jobs(g)]
        for j in jobs:
            self.spans.add("spark/job", j["start"], j["end"], self._enclosing(first, j["start"]))
        rec.update(self.store.stage_totals([s for j in jobs for s in j["stages"]]))
        rec["wall_s"] = t1 - t0
        rec["jobs"] = len(jobs)
        rec["jvm_gc_s"] = self.store.gc_seconds() - gc0
        clipped = [(max(j["start"], t0), min(j["end"], t1)) for j in jobs]
        rec["outside_jobs_s"] = (t1 - t0) - union_length([c for c in clipped if c[1] > c[0]])
        rec["build_s"] = sum(s.end - s.start for s in self.spans.spans[first:] if s.is_build)
        self.records.append(rec)

    def group_stats(self, group: str) -> dict:
        """Jobs and stage totals of one finished job group."""
        jobs = self.store.jobs(group)
        out = self.store.stage_totals([s for j in jobs for s in j["stages"]])
        out["jobs"] = len(jobs)
        return out

    def _enclosing(self, first: int, t: float) -> int:
        """The innermost span of the current op that was open at ``t``."""
        best = first
        for k in range(first, len(self.spans.spans)):
            s = self.spans.spans[k]
            if s.layer != "spark" and s.start <= t <= s.end:
                best = k
        return best


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: Path, suffix: str | None = None) -> int:
    """Bytes of the regular files under ``path`` (optionally one suffix),
    ignoring Spark's checksum and marker files."""
    total = 0
    for p in path.rglob("*"):
        if not p.is_file() or p.name.startswith(".") or p.name == "_SUCCESS":
            continue
        if suffix is None or p.name.endswith(suffix):
            total += p.stat().st_size
    return total
