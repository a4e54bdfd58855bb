"""Distributed global ranking — the scalable replacement for
``Window.orderBy(...)`` with no partition key, which funnels the entire
dataset through ONE task (the single-partition-window anti-pattern).

``with_global_rank`` computes the exact global rank of every row in a fully
distributed plan:

1. ``repartitionByRange`` on the order keys (Spark samples boundaries —
   balanced output partitions) + ``sortWithinPartitions``.
2. ``monotonically_increasing_id`` stamps each row with
   ``partition_id * 2^33 + local_index`` — after the range sort the local
   index IS the within-partition rank, with no extra window pass or
   shuffle.
3. Per-partition row counts (tiny: one row per partition) turn into prefix
   offsets with one driver-free window over the counts table; a broadcast
   join adds each partition's offset to its local index.

Global rank = offset + local index + 1. The rank values are independent of
where the sampled range boundaries land: boundaries only decide WHICH task
computes a row's rank, never the rank itself, so the result is
deterministic for unique order keys.

From the exact rank (and the broadcast global count) every global
order-statistic window function is closed-form: percent_rank, cume_dist
(unique keys), and ntile with SQL's first-buckets-bigger fill.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PARTITION_ID_SHIFT = 33  # monotonically_increasing_id() = pid * 2^33 + idx


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    n_partitions: int | None = None,
    cut_lineage: bool = True,
) -> DataFrame:
    """Append the exact 1-based global rank under ``order_cols`` (which must
    uniquely order rows — add a tiebreak column if they don't; with
    duplicate keys the rank among equals is partition-placement-arbitrary).
    """
    n = n_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)
    mid = parted.withColumn("__mid", F.monotonically_increasing_id())
    pid = F.shiftrightunsigned("__mid", _PARTITION_ID_SHIFT)
    idx = F.col("__mid").bitwiseAND(F.lit((1 << _PARTITION_ID_SHIFT) - 1))
    # materialized ONCE: the per-partition counts branch and the data join
    # branch below both consume this frame — without the cut each branch
    # re-executes the range exchange, and AQE may coalesce the two
    # executions into DIFFERENT partitionings (observed when exchange
    # reuse is unavailable, e.g. over checkpointed inputs), attributing
    # offsets to the wrong partition ids and corrupting ranks
    stamped = mid.select("*", pid.alias("__pid"), idx.alias("__idx")).drop("__mid")
    if cut_lineage:
        stamped = stamped.localCheckpoint()

    counts = stamped.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off")
    )
    # offsets has exactly n rows — the single-partition window above and the
    # broadcast below cost O(n_partitions), never O(rows)
    return (
        stamped.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.col("__idx") + 1))
        .drop("__pid", "__idx", "__off")
    )


def ntile_from_rank(rank: Column, n_rows: Column, k: int) -> Column:
    """SQL NTILE(k) from a precomputed global rank: the first ``n mod k``
    buckets get ``ceil(n/k)`` rows, the rest ``floor(n/k)`` (first-buckets-
    bigger, exactly Spark's/DuckDB's semantics)."""
    q = F.floor(n_rows / k)
    rem = n_rows % k
    big = (q + 1) * rem  # rows covered by the bigger buckets
    return F.when(
        rank <= big, F.floor((rank - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((rank - 1 - big) / q) + 1).cast("int")


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    n_partitions: int | None = None,
    cut_lineage: bool = True,
) -> DataFrame:
    """Exact cumulative sum of ``value_col`` under the GLOBAL ordering of
    ``order_cols`` — without the single-task ``Window.orderBy`` that a
    naive global running sum funnels everything through.

    Same distributed shape as ``with_global_rank``: range-repartition on
    the order keys, a per-partition running sum (windows partition by the
    physical partition id), then per-partition totals (one row per
    partition — metadata-sized) turned into prefix carries by one tiny
    window and broadcast back. Rows with EQUAL order keys may receive
    their intra-tie cumulative values in an arbitrary order (exactly like
    any SQL ROWS-frame running sum); any aggregate that is tie-order
    invariant — the sum after a tie group, a per-group max across a
    monotone run — is deterministic."""
    spark = df.sparkSession
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)
    # materialized once for the same two-branch reason as with_global_rank
    # above: totals and the local-cumsum join must see ONE partitioning
    stamped = parted.withColumn("__pid", F.spark_partition_id())
    if cut_lineage:
        stamped = stamped.localCheckpoint()
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = stamped.withColumn("__loc", F.sum(value_col).over(w_local))
    totals = stamped.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    w_carry = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    carries = totals.select(
        "__pid", F.sum("__tot").over(w_carry).alias("__carry")
    )
    return (
        local.join(F.broadcast(carries), "__pid")
        .withColumn(out_col, F.col("__loc") + F.coalesce("__carry", F.lit(0)))
        .drop("__pid", "__loc", "__carry")
    )


def global_running_sum_with_rank(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    rank_col: str = "rank",
    n_partitions: int | None = None,
    cut_lineage: bool = True,
) -> DataFrame:
    """Fused ``global_running_sum`` + ``with_global_rank`` over the SAME
    total order (r15): one range exchange, one lineage cut, one
    per-partition window producing cumsum AND row number together, and one
    metadata-sized carry pass feeding BOTH the value prefix and the
    row-count prefix. Stacking the two standalone operators costs two
    range exchanges and two checkpoints of the full frame for what is one
    physical layout — measured on revenue_concentration (sf0.1): build
    phase 12 jobs -> 6. Tie handling matches the standalone ops: equal
    order keys receive intra-tie cum/rank values in partition-placement
    order (callers needing determinism add a tiebreak column, exactly as
    before)."""
    spark = df.sparkSession
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)
    stamped = parted.withColumn("__pid", F.spark_partition_id())
    if cut_lineage:
        stamped = stamped.localCheckpoint()
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = stamped.withColumn("__loc", F.sum(value_col).over(w_local)).withColumn(
        "__rn", F.count(F.lit(1)).over(w_local)
    )
    totals = stamped.groupBy("__pid").agg(
        F.sum(value_col).alias("__tot"), F.count(F.lit(1)).alias("__cnt")
    )
    w_carry = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    carries = totals.select(
        "__pid",
        F.sum("__tot").over(w_carry).alias("__carry"),
        F.coalesce(F.sum("__cnt").over(w_carry), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(carries), "__pid")
        .withColumn(out_col, F.col("__loc") + F.coalesce("__carry", F.lit(0)))
        .withColumn(rank_col, F.col("__off") + F.col("__rn"))
        .drop("__pid", "__loc", "__rn", "__carry", "__off")
    )
