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

Whole pipeline: ``spark.read.text`` -> the staged parse projections of
``io/flf.py`` (slice, trim, cast, enforce; whole-stage codegen fuses them
into one stage) -> sink.
Narrow (shuffle-free), scales linearly with input splits; every task writes
its own part file, so the reference's single-writer thread (converter.rs:295-298)
has no analogue here. ``single_file=True`` restores one-output-file parity via
``coalesce(1)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from enum import Enum
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from evolution_spark.io.avro import write_avro
from evolution_spark.io.delta_log import commit_delta, write_delta_snapshot
from evolution_spark.io.flf import (
    parse_failures,
    read_flf,
    scoped_max_partition_bytes,
    write_flf,
)
from evolution_spark.io.ipc import write_ipc
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
    save_mode: str = "error"  # Spark SaveMode for the sink
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

    def with_options(self, **kw: Any) -> "Converter":
        return replace(self, **kw)

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
        df = self.dataframe(spark)
        target = Target(self.target)
        if target is Target.FLF:
            write_flf(
                df,
                self.schema,
                self.output_path,
                single_file=self.single_file,
                mode=self.save_mode,
                float_format=self.float_format,
            )
            return
        if self.single_file:
            if self.partition_by:
                raise ValueError("single_file and partition_by are mutually exclusive")
            df = df.coalesce(1)
        if target in (Target.PARQUET, Target.ORC, Target.CSV):
            writer = df.write.mode(self.save_mode)
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            if target is Target.CSV:
                # header on by default so the file is self-describing; Spark
                # quotes/escapes embedded delimiters per RFC 4180.
                writer = writer.option("header", "true")
            for k, v in self.writer_options.items():
                writer = writer.option(k, v)
            getattr(writer, target.value)(self.output_path)
            return
        if target is Target.IPC:
            write_ipc(df, self.output_path)
            return
        import os as _os

        exists = _os.path.exists(self.output_path)
        if target is Target.DELTA:
            # native writer (io/delta_log.py): distributed parquet data +
            # a spec-compliant _delta_log commit, no connector jar needed
            # (target.rs:31-37). ignore no-ops on any existing path; append
            # and overwrite onto a Delta table are a new commit (overwrite:
            # remove+add); everything else writes version 0 — overwrite
            # replaces whatever is there, the rest refuse an existing path.
            if exists and self.save_mode == "ignore":
                return
            if self.save_mode in ("append", "overwrite") and _os.path.exists(
                _os.path.join(self.output_path, "_delta_log")
            ):
                if self.partition_by:
                    from evolution_spark.io.delta_log import _replay_log

                    _, _, stored_parts, _ = _replay_log(Path(self.output_path))
                    if list(self.partition_by) != stored_parts:
                        raise ValueError(
                            f"partition_by {self.partition_by} != table's "
                            f"partitionColumns {stored_parts} — commits keep "
                            "the table's layout; drop the argument or "
                            "recreate the table"
                        )
                # schema drift under overwrite still raises (commit_delta's
                # check) — matching Delta, where replacing the schema is an
                # explicit overwriteSchema opt-in, not a silent rewrite
                commit_delta(df, self.output_path, mode=self.save_mode)
                return
            write_delta_snapshot(
                df, self.output_path,
                mode="overwrite" if self.save_mode == "overwrite" else "error",
                partition_by=self.partition_by,
            )
            return
        if target is Target.AVRO:
            # native container-file codec (io/avro.py): distributed
            # one-file-per-partition write, spec-compliant bytes
            # (cross-validated against the JVM's avro-core reader in
            # tests) — no spark-avro module needed. SaveModes: error
            # refuses an existing dataset, overwrite replaces it, append
            # adds container files, ignore no-ops.
            if self.partition_by:
                raise ValueError("avro sink does not support partition_by")
            if exists:
                if self.save_mode == "ignore":
                    return
                if self.save_mode == "error":
                    raise ValueError(
                        f"avro output exists: {self.output_path} (save_mode='error')"
                    )
                if self.save_mode == "overwrite":
                    import shutil as _shutil

                    _shutil.rmtree(self.output_path)
            write_avro(df, self.output_path)
            return
        if target is Target.ICEBERG:
            # native v2 writer (io/iceberg_meta.py): distributed parquet
            # data + spec-compliant metadata.json / manifest-list /
            # manifest Avro chain, no iceberg-spark-runtime needed.
            # SaveModes: append commits a new snapshot, overwrite rewrites
            # the table, ignore no-ops on an existing table. Row-level
            # deletes still need the connector (target.rs:31-37).
            from evolution_spark.io.iceberg_meta import (
                append_iceberg_snapshot,
                write_iceberg_table,
            )

            if self.save_mode == "ignore" and exists:
                return
            if self.save_mode == "append" and exists:
                append_iceberg_snapshot(df, self.output_path)
                return
            mode = "overwrite" if self.save_mode == "overwrite" else "error"
            write_iceberg_table(
                df, self.output_path, mode=mode, partition_by=self.partition_by
            )
            return
