"""Small-file compaction — the table-maintenance pass every continuously-
ingested lake needs (streaming sinks, per-batch writers, and fine-grained
partitioning all fragment tables into files far below the efficient scan
unit; thousands of tiny files turn a 100 TB scan into a metadata storm).

``compact_parquet`` rewrites a parquet directory into files sized near a
target: it sums the current file sizes from the filesystem (no data read),
derives the output file count, and rewrites with ``coalesce`` (narrow, no
shuffle) or ``repartition`` (when raising the file count or when output
ordering should be randomized for balance). The rewrite is an overwrite
under the one save-mode rule (``io/save_mode.py``): written to a sibling
temp dir, then swapped in by renames (old aside, new in place). The swap
is NOT atomic (POSIX has no two-path atomic swap short of renameat2): a
crash between the renames, or a concurrent reader racing them, can observe
a briefly-missing or empty path. On failure mid-swap the original is
renamed back so no committed data is lost; a production lake should layer a table format's
commit protocol (Delta/Iceberg) on top for reader-visible atomicity.

Hive-partitioned layouts (``col=value`` subdirectories) are rejected — a
flat rewrite would silently demote partition columns to data columns.
Compact each partition directory individually instead.

The same pass optionally re-sorts within files (``sort_within``) so
compaction doubles as a statistics refresh — tight min/max footers survive
(pair with io/clustered.py for full re-clustering).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession

from evolution_spark.io.save_mode import save_output


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
    sort_within: list[str] | None = None,
) -> dict:
    """Compact the parquet files under ``path`` to ~``target_file_mb`` each.

    Returns ``{"files_before", "files_after", "bytes"}``. Uses ``coalesce``
    (shuffle-free) when reducing file count — each output file is a merge
    of whole input files; pass ``sort_within`` to re-sort rows inside each
    output file (adds a local sort, still no shuffle).
    """
    part_dirs = [
        e for e in os.listdir(path)
        if os.path.isdir(os.path.join(path, e)) and "=" in e and not e.startswith(".")
    ]
    if part_dirs:
        raise ValueError(
            f"{path} looks hive-partitioned ({part_dirs[0]}, ...): compact each "
            "partition directory individually to preserve the partition columns"
        )
    sizes = []
    for root, _dirs, files in os.walk(path):
        sizes += [
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        ]
    if not sizes:
        raise FileNotFoundError(f"no parquet files under {path}")
    total = sum(sizes)
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    out = df.coalesce(n_out) if n_out <= len(sizes) else df.repartition(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)

    save_output(path, "overwrite", lambda p: out.write.mode("error").parquet(p))

    n_after = sum(
        1
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return {"files_before": len(sizes), "files_after": n_after, "bytes": total}


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep_predicate,
) -> dict:
    """Retention/TTL maintenance for hive-partitioned tables: drop whole
    partition DIRECTORIES whose value fails ``keep_predicate`` (a Python
    callable on the partition's string value). Deletion is directory-level
    — no data is read or rewritten, which is the only retention mechanism
    that stays O(expired partitions) at 100 TB (a row-level delete would
    rewrite the table).

    Only values encoded in the directory name are consulted, so the op is
    safe under concurrent reads of retained partitions. Returns
    ``{"dropped": [values...], "kept": n}``.
    """
    prefix = f"{partition_col}="
    dropped, kept = [], 0
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(prefix):
            continue
        value = entry[len(prefix):]
        if keep_predicate(value):
            kept += 1
        else:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(value)
    return {"dropped": dropped, "kept": kept}
