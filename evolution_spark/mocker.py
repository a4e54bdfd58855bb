"""Synthetic FLF data generation (reference O14: ``evolution mock``).

Spark-native rewrite of crates/evolution-mocker: ``spark.range(n_rows)`` plus
seeded per-type uniform generators with the reference's value ranges
(crates/evolution-mocker/src/lib.rs:34-39):

  Boolean ~ Bernoulli(0.5); Float16 in [-256, 256]; Float32 in [-1e6, 1e6];
  Float64 in [-1e9, 1e9]; Int16 in [-1e4, 1e4]; Int32 in [-1e6, 1e6];
  Int64 in [-1e9, 1e9]; Utf8/LargeUtf8 = random US-English first name
  (lib.rs:57-94).

Fully distributed: ``spark.range`` partitions the row space across tasks, each
task generates and encodes its own rows, and each task writes its own part
file. The reference's multithreading threshold/auto-downgrade machinery
(mocker.rs:44-50, 393-404) has no analogue — Spark schedules 1 row or 1e12 rows
the same way. Deterministic per seed (``F.rand(seed)`` is seeded per-column).

Divergence: generated floats are rounded to 3 decimals so their string form
fits typical field widths (the reference prints full float precision and pads,
which can overflow narrow columns; see SURVEY.md §4.3 on unreplicated defects).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_spark.io.flf import encode_flf
from evolution_spark.io.save_mode import save_output
from evolution_spark.schema import FixedColumn, FixedSchema

# A small public-domain pool of common US-English first names (the reference
# uses the `fake` crate's en-US first-name provider, mocker/lib.rs:88-94).
US_FIRST_NAMES: tuple[str, ...] = (
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen", "Christopher",
    "Lisa", "Daniel", "Nancy", "Matthew", "Betty", "Anthony", "Sandra",
    "Mark", "Margaret", "Donald", "Ashley", "Steven", "Kimberly", "Andrew",
    "Emily", "Paul", "Donna", "Joshua", "Michelle", "Kenneth", "Carol",
    "Kevin", "Amanda", "Brian", "Melissa", "George", "Deborah", "Timothy",
    "Stephanie", "Ronald", "Rebecca", "Jason", "Sharon", "Edward", "Laura",
    "Jeffrey", "Cynthia", "Ryan", "Amy", "Jacob", "Kathleen", "Gary",
    "Angela", "Nicholas", "Shirley", "Eric", "Brenda", "Jonathan", "Emma",
    "Stephen", "Anna", "Larry", "Pamela", "Justin", "Nicole", "Scott",
    "Samantha", "Brandon", "Katherine", "Benjamin", "Christine", "Samuel",
    "Helen", "Gregory", "Debra", "Alexander", "Rachel", "Patrick", "Olivia",
    "Frank", "Carolyn", "Raymond", "Maria", "Jack", "Janet", "Dennis",
    "Catherine", "Jerry", "Heather",
)

_UNIFORM_RANGES = {  # reference mocker/lib.rs:34-39
    "Float16": 256.0,
    "Float32": 1e6,
    "Float64": 1e9,
    "Int16": 10_000,
    "Int32": 1_000_000,
    "Int64": 1_000_000_000,
}


def mock_column(column: FixedColumn, seed: int) -> Column:
    """A deterministic random generator expression for one column
    (reference dispatch: mocker/lib.rs:42-54)."""
    r = F.rand(seed)
    dt = column.dtype
    if dt == "Boolean":
        return (r < 0.5).alias(column.name)
    if dt == "Float64":
        bound = _UNIFORM_RANGES[dt]
        return F.round(r * (2 * bound) - bound, 3).cast("double").alias(column.name)
    if dt in ("Float16", "Float32"):
        # Half-step grid: every value is exactly representable in float32
        # (|x| < 2^22), so the decimal rendering below is also the shortest
        # round-trip form — keeps the whole mock pipeline JVM-side. (The
        # reference generates full-precision floats; divergence documented.)
        bound = _UNIFORM_RANGES[dt]
        return (
            (F.floor(r * (4 * bound)) / 2.0 - bound).cast("float").alias(column.name)
        )
    if dt in ("Int16", "Int32", "Int64"):
        bound = _UNIFORM_RANGES[dt]
        spark_t = {"Int16": "smallint", "Int32": "int", "Int64": "bigint"}[dt]
        # uniform integer in [-bound, bound]
        return (F.floor(r * (2 * bound + 1)) - bound).cast(spark_t).alias(column.name)
    # Utf8 / LargeUtf8: random first name, restricted to names that fit the
    # declared field width ("conforming to a schema" means encodable — the
    # reference would overflow-pad names wider than the field)
    pool = [n for n in US_FIRST_NAMES if len(n) <= column.length] or [
        n[: column.length] for n in US_FIRST_NAMES[:20]
    ]
    idx = (F.floor(F.rand(seed) * len(pool)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(n) for n in pool]), idx).alias(column.name)


@dataclass(frozen=True)
class Mocker:
    """Mirror of ``FixedLengthFileMockerBuilder`` (mocker.rs:330-414)."""

    schema: FixedSchema
    n_rows: int
    output_path: str
    seed: int = 42
    single_file: bool = False
    save_mode: str = "error"
    n_partitions: int | None = None

    @classmethod
    def from_schema_path(cls, schema_path: str | Path, n_rows: int, output_path: str, **kw: Any) -> "Mocker":
        return cls(FixedSchema.from_path(schema_path), n_rows, output_path, **kw)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        """Typed mock rows (before FLF encoding)."""
        base = spark.range(self.n_rows, numPartitions=self.n_partitions)
        cols = [
            mock_column(c, self.seed + i) for i, c in enumerate(self.schema.columns)
        ]
        return base.select(*cols)

    def run(self, spark: SparkSession) -> None:
        df = self.dataframe(spark)

        # Render floats as plain shortest decimals JVM-side: generated values
        # sit on fixed decimal grids (3 dp for Float64, half-steps for
        # Float16/32), so a decimal cast + trailing-zero strip IS the shortest
        # round-trip form — no pandas UDF in the 1M-rows/s hot path, and the
        # output is a fixpoint under parse -> re-encode(float_format='plain').
        def render_float(c):
            dec = (
                F.col(c.name)
                .cast({"Float16": "decimal(7,3)", "Float32": "decimal(10,3)",
                       "Float64": "decimal(13,3)"}[c.dtype])
                .cast("string")
            )
            no_zeros = F.regexp_replace(dec, r"(\.\d*?)0+$", r"$1")
            return F.regexp_replace(no_zeros, r"\.$", "").alias(c.name)

        rendered = df.select(
            *[
                render_float(c)
                if c.dtype in ("Float16", "Float32", "Float64")
                else F.col(c.name)
                for c in self.schema.columns
            ]
        )
        # overflow='error': a field narrower than the generator's value domain
        # fails loudly instead of writing truncated (corrupt) values.
        encoded = encode_flf(rendered, self.schema, overflow="error")
        if self.single_file:
            encoded = encoded.coalesce(1)
        save_output(
            self.output_path, self.save_mode,
            lambda p: encoded.write.mode("error").text(p),
            lambda p: encoded.write.mode("append").text(p),
        )
