"""High-level ``Converter`` API — the Spark-native analogue of the reference's
``ParquetConverter`` builder chain (crates/evolution-converter/src/converter.rs:70-92,
336-461) and ``Target`` dispatch (crates/evolution-target/src/target.rs:31-37,
examples/full/src/cli.rs:192-219).

The reference ships Parquet only (Delta/Iceberg/Ipc are ``todo!()``); this
engine implements all four targets plus the FLF re-encode sink:

* parquet — ``df.write.parquet`` (reference O11)
* delta — native transaction-log writer (``io/delta_log.py``), no
  connector jar: a new table is version 0, append/overwrite onto an
  existing table commit the next version (type mapping follows
  column.rs:153-168, including the Float16->FLOAT widening)
* iceberg — native v2 snapshot writer (``io/iceberg_meta.py``): parquet
  data + metadata.json/manifest-list/manifest Avro chain, no connector jar
* ipc — distributed Arrow IPC part files (``evolution_spark.io.ipc``)
* flf — fixed-width text re-encode (reference O13)
* orc / csv — Spark-built-in sinks (executable here; the reference has no
  analogue); avro — native container-file codec (``io/avro.py``), no
  spark-avro module needed

``save_mode`` is one rule for every target (``io/save_mode.py``): any
mode creates at an absent path; ``error`` refuses and ``ignore`` skips an
existing output before any Spark job runs; ``append`` adds one commit to a
Delta or Iceberg table and new part files to any other target (a Delta or
Iceberg target refuses a path that holds no table); ``overwrite`` of a
Delta table is a commit, and of anything else replaces the WHOLE output,
even when the session sets dynamic partition overwrite. A write that
raises leaves no new output behind and an old output as it was.

Whole pipeline: ``spark.read.text`` -> the staged parse projections of
``io/flf.py`` (slice, trim, cast, enforce; whole-stage codegen fuses them
into one stage) -> sink.
Narrow (shuffle-free), scales linearly with input splits; every task writes
its own part file, so the reference's single-writer thread (converter.rs:295-298)
has no analogue here. ``single_file=True`` restores one-output-file parity via
``coalesce(1)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from evolution_spark.io.avro import write_avro
from evolution_spark.io.delta_log import _create_delta_table, _replay_log, commit_delta
from evolution_spark.io.flf import (
    parse_failures,
    read_flf,
    scoped_max_partition_bytes,
    write_flf,
)
from evolution_spark.io.ipc import write_ipc
from evolution_spark.io.save_mode import save_output
from evolution_spark.schema import FixedSchema


class Target(str, Enum):
    """Output targets (reference target.rs:31-37 + the FLF sink + the
    Spark-built-in columnar/text formats the reference has no analogue for)."""

    PARQUET = "parquet"
    DELTA = "delta"
    ICEBERG = "iceberg"
    IPC = "ipc"
    FLF = "flf"
    ORC = "orc"
    CSV = "csv"
    AVRO = "avro"


@dataclass(frozen=True)
class Converter:
    """FLF -> columnar converter.

    Mirrors the reference builder surface (converter.rs:336-390):
    ``with_in_file/with_schema/with_out_file`` -> constructor args;
    ``with_num_threads`` -> Spark task parallelism (cluster-managed);
    ``with_read_buffer_size`` -> ``max_partition_bytes``;
    ``with_write_properties`` -> ``writer_options``.
    """

    input_path: str
    schema: FixedSchema
    output_path: str
    target: Target = Target.PARQUET
    mode: str = "abort"  # abort | permissive (nullability enforcement, O9)
    save_mode: str = "error"  # error | append | overwrite | ignore (io/save_mode.py)
    single_file: bool = False
    max_partition_bytes: int | None = None
    # Hive-style output partitioning (parquet/delta/iceberg targets): at
    # warehouse scale a date/tenant-partitioned layout is what makes
    # partition PRUNING possible — queries filtering on these columns skip
    # whole directories. Mutually exclusive with single_file.
    partition_by: list[str] | None = None
    writer_options: dict[str, str] = field(default_factory=dict)
    # FLF sink float rendering: 'native' (Spark shortest, scientific >=1e7)
    # or 'plain' (Rust-Display parity; pandas-UDF path)
    float_format: str = "native"


    @classmethod
    def from_schema_path(cls, input_path: str, schema_path: str | Path, output_path: str, **kw: Any) -> "Converter":
        return cls(input_path, FixedSchema.from_path(schema_path), output_path, **kw)

    # -- execution ---------------------------------------------------------

    def dataframe(self, spark: SparkSession) -> DataFrame:
        """The typed logical plan (scan + parse) without a sink attached."""
        return read_flf(
            spark,
            self.input_path,
            self.schema,
            mode=self.mode,
            max_partition_bytes=self.max_partition_bytes,
        )

    def validate(self, spark: SparkSession, sample_rows: int = 20) -> DataFrame:
        """Eager two-pass validation (SURVEY §4.2 note on O9): returns a
        DataFrame of rows that would abort the conversion — (line, column,
        raw_field) for every parse failure on a non-nullable column, found by
        the same staged parse expressions ``run()`` uses
        (``io.flf.parse_failures``).

        The default ``run()`` path stays single-pass (``raise_error`` aborts
        on the first bad row); use this when you want the full defect list
        up front (e.g. data quality triage) at the cost of one extra scan.
        ``sample_rows`` limits the result via ``limit`` — the scan
        short-circuits once enough failures are found.
        """
        lines = spark.read.text(self.input_path)
        return parse_failures(lines, self.schema).limit(sample_rows)

    def run(self, spark: SparkSession) -> None:
        # The split-size knob is read by Spark when the job RUNS, so it must
        # stay set across the whole read->write span; scope + restore here.
        with scoped_max_partition_bytes(spark, self.max_partition_bytes):
            self._run(spark)

    def _run(self, spark: SparkSession) -> None:
        target = Target(self.target)
        if self.single_file and self.partition_by:
            raise ValueError("single_file and partition_by are mutually exclusive")
        if target is Target.AVRO and self.partition_by:
            raise ValueError("avro sink does not support partition_by")
        df = self.dataframe(spark)
        if self.single_file:
            df = df.coalesce(1)
        save_output(self.output_path, self.save_mode, **self._sink(df, target))

    def _sink(self, df: DataFrame, target: Target) -> dict[str, Any]:
        """What only the target knows — write a new output, append to an
        existing one — as ``save_output`` arguments; the save mode decides
        which of them runs."""
        if target is Target.DELTA:
            # native writer (io/delta_log.py): distributed parquet data +
            # a spec-compliant _delta_log commit, no connector jar needed
            # (target.rs:31-37); overwrite of a Delta table is a commit
            # (remove + add), so the old versions stay readable
            return dict(
                create=lambda p: _create_delta_table(df, Path(p), self.partition_by),
                append=lambda p: self._commit_delta(df, p, "append"),
                overwrite=lambda p: self._commit_delta(df, p, "overwrite"),
                table_marker="_delta_log",
            )
        if target is Target.ICEBERG:
            # native v2 writer (io/iceberg_meta.py): distributed parquet
            # data + spec-compliant metadata.json / manifest-list /
            # manifest Avro chain, no iceberg-spark-runtime needed.
            # Row-level deletes still need the connector (target.rs:31-37).
            from evolution_spark.io.iceberg_meta import (
                _create_iceberg_table,
                append_iceberg_snapshot,
            )

            return dict(
                create=lambda p: _create_iceberg_table(df, Path(p), self.partition_by),
                append=lambda p: append_iceberg_snapshot(df, p),
                table_marker="metadata/version-hint.text",
                relocatable=False,
            )

        def write(path: str, mode: str) -> None:
            if target is Target.IPC:
                write_ipc(df, path)
            elif target is Target.AVRO:
                # native container-file codec (io/avro.py): distributed
                # one-file-per-partition write, spec-compliant bytes
                # (cross-validated against the JVM's avro-core reader in
                # tests) — no spark-avro module needed
                write_avro(df, path)
            elif target is Target.FLF:
                write_flf(df, self.schema, path, mode=mode, float_format=self.float_format)
            else:
                writer = df.write.mode(mode)
                if self.partition_by:
                    writer = writer.partitionBy(*self.partition_by)
                if target is Target.CSV:
                    # header on by default so the file is self-describing;
                    # Spark quotes/escapes embedded delimiters per RFC 4180.
                    writer = writer.option("header", "true")
                for k, v in self.writer_options.items():
                    writer = writer.option(k, v)
                getattr(writer, target.value)(path)

        return dict(create=lambda p: write(p, "error"), append=lambda p: write(p, "append"))

    def _commit_delta(self, df: DataFrame, path: str, mode: str) -> None:
        if self.partition_by:
            _, _, stored_parts, _ = _replay_log(Path(path))
            if list(self.partition_by) != stored_parts:
                raise ValueError(
                    f"partition_by {self.partition_by} != table's "
                    f"partitionColumns {stored_parts} — commits keep "
                    "the table's layout; drop the argument or "
                    "recreate the table"
                )
        # schema drift under overwrite still raises (commit_delta's check)
        # — matching Delta, where replacing the schema is an explicit
        # overwriteSchema opt-in, not a silent rewrite
        commit_delta(df, path, mode=mode)
