"""The benchmark's workloads.

Each workload is one closed loop with a single client: one op at a time
against one SparkSession. A workload

* ``prepare``s its inputs from the seed (repeatable: the run times it
  several times and reports the median inside ``setup_s``),
* runs ``once`` what set-up needs a single time: reference answers and
  warm-up ops that absorb class loading, code generation and JIT,
* runs ops for the run length; ``op`` is the timed call and ``check``
  verifies its output and cleans up outside the timed region,
* after the ops, reads one output back ``READS`` times (``finish``):
  ``final_output`` leaves it untimed, and each timed ``read_back``
  verifies it; the median of those reads is ``read_s_p50``,
* in a traced run, times ``build`` (the plan an op builds inside the
  program, built again apart) once per traced op after the ops, then adds
  a ``ladder`` of layer measurements to ``layers`` and returns the
  verdicts of any output checks the ladder makes.
"""

from __future__ import annotations

import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_spark.converter import Converter, Target
from evolution_spark.io.delta_log import read_delta_snapshot
from evolution_spark.io.flf import encode_flf, parse_flf, trim_padding
from evolution_spark.mocker import Mocker
from evolution_spark.schema import BENCH_FLF_SCHEMA_DICT, FixedSchema

from perfbench.harness import Tracer, dir_bytes, median

SCHEMA = FixedSchema.from_dict(BENCH_FLF_SCHEMA_DICT)


@dataclass
class Op:
    seconds: float | None  # None when the op raised
    rows: int
    ok: bool


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _best(fn, reps: int = 2) -> float:
    return min(_timed(fn) for _ in range(reps))


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _score_grid(c):
    """A Float64 mock value on its 3-dp grid, as an exact integer."""
    return F.round(c * 1000).cast("bigint")


def _flf_checksum(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-insensitive checksum of bench-schema rows;
    floats enter on the mock's 3-dp grid."""
    h = F.xxhash64("id", "name", _score_grid(F.col("score")), "flag").cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def _bench_mocker(path: Path, rows: int, seed: int, partitions: int | None = None) -> Mocker:
    return Mocker(SCHEMA, rows, str(path), seed=seed, n_partitions=partitions,
                  save_mode="overwrite")


class Workload:
    name = ""
    # Ops run in set-up before the timed ones, for at least WARM_SECONDS
    # and WARM_OPS ops: the JIT and the heap are still growing into the
    # workload. How many ops that takes varies from session to session,
    # because the JIT compiles beside the busy task threads, so the
    # warm-up is set in seconds rather than in ops.
    WARM_OPS = 4
    WARM_SECONDS = 10.0
    READS = 9

    def __init__(self, spark: SparkSession, work: Path, seed: int, tiny: bool, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.tracer = tracer
        self.nproc = spark.sparkContext.defaultParallelism
        self.rows = 0  # rows one op writes or scans
        self.read_s: list[float] = []
        self.bytes_in = 0
        self.bytes_out: list[int] = []
        self.warm_s: list[float] = []
        self.verdicts: list[bool] = []  # output checks made in set-up
        self.layers: dict[str, float] = {}

    def prepare(self) -> None:
        """Make the inputs from the seed (run several times in set-up)."""

    def once(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Run ops with their checks, untimed, for ``WARM_SECONDS`` and at
        least ``WARM_OPS`` ops: the timed loop then starts on code the JIT
        has already compiled for it."""
        deadline = time.perf_counter() + self.WARM_SECONDS
        while len(self.warm_s) < self.WARM_OPS or time.perf_counter() < deadline:
            i = -1 - len(self.warm_s)
            self.warm_s.append(_timed(lambda: self.op(i)))
            self.check(i)
        self.bytes_out.clear()

    def rounds(self, seconds: float) -> int | None:
        """A fixed op count for the run, or None to run until the deadline."""
        return None

    def build(self, i: int) -> None:
        """Build, apart and without running it, the DataFrame op ``i``
        builds inside the program."""

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> bool:
        raise NotImplementedError

    def final_output(self) -> None:
        """Leave, untimed, the output that ``read_back`` reads."""

    def read_back(self) -> bool:
        """Read the final output back and verify it (timed)."""
        raise NotImplementedError

    def finish(self) -> list[bool]:
        """Time ``READS`` reads of one output into ``read_s``: every sample
        reads the same data, so the median mixes no sizes. Returns the
        reads' verdicts; a read that raises counts as failed."""
        try:
            self.final_output()
        except Exception as e:  # noqa: BLE001 - counted, and the run goes on
            print(f"{self.name} final output failed: {e!r}", file=sys.stderr, flush=True)
            return [False] * self.READS
        verdicts = []
        for j in range(self.READS):
            self.tracer.group(f"final-read{j}")
            try:
                t0 = time.perf_counter()
                ok = self.read_back()
                self.read_s.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 - counted, and the run goes on
                print(f"{self.name} read {j} failed: {e!r}", file=sys.stderr, flush=True)
                ok = False
            verdicts.append(ok)
        return verdicts

    def time_builds(self) -> None:
        """Add to each traced op's record the time of its plan build, done
        again apart after the ops so that no timed op does extra work. Like
        every build after the first, it runs on warm caches."""
        for rec in self.tracer.records:
            i = rec["op"]
            rec["build_s"] += self.tracer.time_build(i, lambda: self.build(i))

    def ladder(self) -> list[bool]:
        """Workload-specific layer breakdown for a traced run; returns the
        verdicts of the output checks it makes."""
        return []

    def measure(self, seconds: float) -> list[Op]:
        """Closed loop: time each op, then check it outside the timed
        region. A failed op is counted and the run goes on."""
        ops: list[Op] = []
        n = self.rounds(seconds)
        deadline = time.perf_counter() + seconds
        while not ops or (len(ops) < n if n is not None else time.perf_counter() < deadline):
            i = len(ops)
            try:
                with self.tracer.op(i):
                    t0 = time.perf_counter()
                    self.op(i)
                    dt = time.perf_counter() - t0
                ok = self.check(i)
            except Exception as e:  # noqa: BLE001 - counted, and the run goes on
                print(f"{self.name} op {i} failed: {e!r}", file=sys.stderr, flush=True)
                ops.append(Op(None, 0, False))
                continue
            if not ok:
                print(f"{self.name} op {i}: output check failed", file=sys.stderr, flush=True)
            ops.append(Op(dt, self.rows, ok))
        self.tracer.close()
        return ops


class ConvertParquet(Workload):
    """One op: ``Converter(input, schema, fresh_out).run(spark)`` to Parquet
    over an FLF input that ``Mocker.run`` writes from the seed in set-up.

    The paper's other subcommand, ``mock``, has no workload of its own:
    set-up runs it three times, its output gets the mock output check once,
    and a traced run measures the mock ladder."""

    name = "convert_parquet"
    # Op times still fall over the first eight or more converts: the parse
    # and Parquet paths are JIT-compiled late.
    WARM_SECONDS = 14.0
    SAMPLE_PER_FILE = 50

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = 10_000 if self.tiny else 500_000
        self.input = self.work / "input.flf"

    def _mocker(self, path: Path) -> Mocker:
        return _bench_mocker(path, self.rows, self.seed, 2 * self.nproc)

    def _converter(self, out: Path) -> Converter:
        return Converter(str(self.input), SCHEMA, str(out))

    def prepare(self) -> None:
        self._mocker(self.input).run(self.spark)

    def once(self) -> None:
        self.bytes_in = dir_bytes(self.input, ".txt")
        self.verdicts.append(self._input_ok())
        self.reference = _flf_checksum(self._mocker(self.input).dataframe(self.spark))
        self.warm_up()

    def _input_ok(self) -> bool:
        """The mock output check: the line count is ``rows``, every line is
        one row wide, and the first lines of each part file parse, in pure
        Python, to the first typed rows of the partition ``Mocker.run``
        wrote to that file."""
        r = self.spark.read.text(str(self.input)).agg(
            F.count(F.lit(1)), F.min(F.length("value")), F.max(F.length("value"))
        ).first()
        width = SCHEMA.row_length
        df = self._mocker(self.input).dataframe(self.spark)
        pos = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        want = sorted(_typed_key(tuple(row)) for row in df.where(pos < self.SAMPLE_PER_FILE).collect())
        got = []
        for part in sorted(self.input.glob("part-*.txt")):
            with open(part, encoding="utf-8") as f:
                for _, line in zip(range(self.SAMPLE_PER_FILE), f):
                    got.append(_typed_key(parse_line(line.rstrip("\n"))))
        ok = tuple(r) == (self.rows, width, width) and sorted(got) == want
        if not ok:
            print(f"{self.name}: mock output check failed", file=sys.stderr, flush=True)
        return ok

    def build(self, i: int) -> None:
        # read_flf/parse_flf build this plan inside Converter.run.
        with self.tracer.span("io.flf/build.read_flf"):
            self._converter(self.work / f"out-{i}").dataframe(self.spark)

    def op(self, i: int) -> None:
        with self.tracer.span("converter/run"):
            self._converter(self.work / f"out-{i}").run(self.spark)

    def _verify(self, out: Path) -> bool:
        return _flf_checksum(self.spark.read.parquet(str(out))) == self.reference

    def check(self, i: int) -> bool:
        out = self.work / f"out-{i}"
        try:
            ok = self._verify(out)
            self.bytes_out.append(dir_bytes(out, ".parquet"))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return ok

    def final_output(self) -> None:
        self._converter(self.work / "final").run(self.spark)

    def read_back(self) -> bool:
        return self._verify(self.work / "final")

    def ladder(self) -> list[bool]:
        """The io.flf read ladder, each rung forced with the noop sink and
        reported as the delta to the rung before; then the mock ladder."""
        spark, path = self.spark, str(self.input)

        def sliced(trim: bool):
            v = F.col("value")
            cols = []
            for c in SCHEMA.columns:
                raw = F.substring(v, c.offset + 1, c.length)
                cols.append((trim_padding(raw, c) if trim else raw).alias(c.name))
            return cols

        lines = lambda: spark.read.text(path)  # noqa: E731
        out = self.work / "ladder-out"

        def write():
            self._converter(out).run(spark)
            shutil.rmtree(out)

        rungs = [
            ("io.flf.scan_s", lambda: _noop(lines())),
            ("io.flf.slice_s", lambda: _noop(lines().select(*sliced(False)))),
            ("io.flf.trim_s", lambda: _noop(lines().select(*sliced(True)))),
            ("io.flf.cast_s", lambda: _noop(parse_flf(lines(), SCHEMA, mode="permissive"))),
            ("io.flf.enforce_s", lambda: _noop(parse_flf(lines(), SCHEMA, mode="abort"))),
            ("converter.parquet_write_s", write),
        ]
        prev = 0.0
        for name, fn in rungs:
            t = _best(fn)
            self.layers[name] = t - prev
            prev = t

        # Generate (typed frame -> noop); encode (``encode_flf`` over the
        # typed frame -> noop) as the delta to generate; render+write as
        # ``Mocker.run`` minus generate.
        mock = self._mocker(self.work / "ladder-mock")
        gen = _best(lambda: _noop(mock.dataframe(spark)))
        enc = _best(lambda: _noop(encode_flf(mock.dataframe(spark), SCHEMA, overflow="error")))
        self.layers["mocker.generate_s"] = gen
        self.layers["io.flf.encode_s"] = enc - gen
        self.layers["mocker.render_write_s"] = _best(lambda: mock.run(spark)) - gen
        return []


def parse_line(line: str) -> tuple:
    """Pure-Python parse of one bench-schema FLF line: slice, trim the pad
    per alignment, cast. The reference the Spark parser is not part of."""
    out = []
    for c in SCHEMA.columns:
        raw = line[c.offset:c.offset + c.length]
        text = {"Left": raw.rstrip, "Right": raw.lstrip, "Center": raw.strip}[c.alignment](c.pad_char)
        if text == "":
            out.append(None)
        elif c.dtype == "Boolean":
            out.append({"true": True, "false": False}[text])
        elif c.dtype.startswith("Int"):
            out.append(int(text))
        elif c.dtype.startswith("Float"):
            out.append(float(text))
        else:
            out.append(text)
    return tuple(out)


def _typed_key(row: tuple) -> tuple:
    """A bench-schema row with floats on the mock's 3-dp grid, sortable."""
    return tuple(
        (1, round(v * 1000)) if isinstance(v, float) else (0, 0) if v is None else (1, v)
        for v in row
    )


class DeltaAppendRead(Workload):
    """From an empty table, each round appends one FLF batch through
    ``Converter(..., target=Target.DELTA, save_mode="append")`` (the op),
    then checks the snapshot with ``read_delta_snapshot`` plus a filtered
    aggregate. Rounds per run follow from the run length alone, so every
    commit under comparison reads the same table sizes; the final reads
    read the table the last round leaves."""

    name = "delta_append_read"
    ROUNDS_PER_SECOND = 1.0
    WARM_OPS = 4  # a round is an append and a read: two ops' worth of warm-up

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = 10_000 if self.tiny else 200_000
        self.batch = self.work / "batch.flf"
        self.table = self.work / "table"
        self.appended = 0
        self.replay_s: list[float] = []

    def _mocker(self) -> Mocker:
        return _bench_mocker(self.batch, self.rows, self.seed, self.nproc)

    def _append(self, table: Path) -> None:
        Converter(str(self.batch), SCHEMA, str(table), target=Target.DELTA,
                  save_mode="append").run(self.spark)

    def _read(self, table: Path) -> tuple[int, int, int]:
        t0 = time.perf_counter()
        with self.tracer.span("io.delta_log/build.read_delta_snapshot"):
            df = read_delta_snapshot(self.spark, str(table))
        self.replay_s.append(time.perf_counter() - t0)
        flag = F.col("flag")
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(flag, 1)).alias("n_true"),
            F.sum(F.when(flag, _score_grid(F.col("score")))).alias("s"),
        ).first()
        return int(r["n"]), int(r["n_true"]), int(r["s"] or 0)

    def prepare(self) -> None:
        self._mocker().run(self.spark)

    def once(self) -> None:
        self.bytes_in = dir_bytes(self.batch, ".txt")
        ref = self._mocker().dataframe(self.spark).where("flag").agg(
            F.count(F.lit(1)), F.sum(_score_grid(F.col("score")))
        ).first()
        self.reference = (int(ref[0]), int(ref[1] or 0))
        warm = self.work / "warm-table"
        for _ in range(self.WARM_OPS):
            self._append(warm)
            self._read(warm)
        shutil.rmtree(warm)
        self.replay_s.clear()

    def rounds(self, seconds: float) -> int:
        return max(2, round(seconds * self.ROUNDS_PER_SECOND))

    def _expected(self) -> tuple[int, int, int]:
        k = self.appended
        return k * self.rows, k * self.reference[0], k * self.reference[1]

    def build(self, i: int) -> None:
        # read_flf/parse_flf build this plan inside Converter.run.
        with self.tracer.span("io.flf/build.read_flf"):
            Converter(str(self.batch), SCHEMA, str(self.table)).dataframe(self.spark)

    def op(self, i: int) -> None:
        with self.tracer.span("converter/run"):
            self._append(self.table)
        self.appended += 1

    def check(self, i: int) -> bool:
        self.tracer.group(f"read{i}")
        got = self._read(self.table)
        k = self.appended
        commits = len(list((self.table / "_delta_log").glob("*.json")))
        # Output bytes of one append: the table (data + log) over appends.
        self.bytes_out.append(dir_bytes(self.table) // k)
        return got == self._expected() and commits == k

    def read_back(self) -> bool:
        return self._read(self.table) == self._expected()

    def ladder(self) -> list[bool]:
        """The delta log's own cost and shape, then the queries layer,
        which has no workload of its own (see ``querymix``)."""
        log = self.table / "_delta_log"
        self.layers["io.delta_log.log_files"] = len(list(log.glob("*.json")))
        self.layers["io.delta_log.log_bytes"] = dir_bytes(log)
        self.layers["io.delta_log.data_files"] = len(list(self.table.glob("*.parquet")))
        commit = [r["outside_jobs_s"] - r["build_s"] for r in self.tracer.records]
        self.layers["io.delta_log.commit_s"] = median(commit)
        self.layers["io.delta_log.replay_s"] = median(self.replay_s)
        from perfbench import querymix  # imports every query module; traced runs only

        layers, verdicts = querymix.measure(self.spark, self.tracer, self.seed)
        self.layers.update(layers)
        return verdicts


WORKLOADS = {w.name: w for w in (ConvertParquet, DeltaAppendRead)}
