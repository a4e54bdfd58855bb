"""Streaming FLF conversion: the reference's convert workload (SURVEY.md
§3.1) as an incremental pipeline — fixed-width text files landing in a
directory are parsed with the same strict semantics and appended to a
Parquet (or any) sink continuously.

The parse is the identical ``parse_flf`` expression set used in batch
(io/flf.py): its staged projections fuse into one narrow codegen'd stage
per micro-batch, no state, no
shuffle — at cluster scale this sustains scan-rate conversion with
end-to-end exactly-once into the parquet sink (checkpointed file source +
transactional file sink)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from evolution_spark.io.flf import parse_flf
from evolution_spark.schema import FixedSchema


def read_flf_stream(
    spark: SparkSession,
    source_dir: str,
    schema: FixedSchema,
    mode: str = "abort",
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """Incrementally parse FLF text files appearing under ``source_dir``."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", str(max_files_per_trigger))
        .text(source_dir)
    )
    return parse_flf(lines, schema, column="value", mode=mode)


def convert_flf_stream(
    spark: SparkSession,
    source_dir: str,
    schema: FixedSchema,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "abort",
) -> StreamingQuery:
    """Continuous FLF -> Parquet conversion with exactly-once file-sink
    semantics. Returns the running StreamingQuery."""
    typed = read_flf_stream(spark, source_dir, schema, mode=mode)
    return (
        typed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def enrich_events_with_dims(events: DataFrame, dims: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream against a static dimension table.
    Spark broadcasts/re-reads the static side per micro-batch — no stream
    state; the standard dimension-enrichment shape."""
    return events.join(dims, on, "left")
