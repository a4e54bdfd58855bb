"""Range-clustered parquet layout: the data-skipping path for range scans.

Hash bucketing (``io/bucketed.py``) optimizes equi-joins; range clustering
optimizes the other dominant 100 TB access pattern — time/range predicates
(``WHERE l_shipdate BETWEEN ...``). ``repartitionByRange`` gives every
output file a DISJOINT key range (Spark samples the key distribution to
pick balanced boundaries), and ``sortWithinPartitions`` orders rows inside
each file, so parquet's per-file and per-row-group min/max statistics
become tight and non-overlapping. A filtered read then prunes whole files
and row groups from the footer alone — I/O proportional to the selected
range, not the table (the same layout contract a Delta/Iceberg OPTIMIZE
ZORDER targets for the single-column case).

The reference's converter has no layout control at all (one output file,
input order — SURVEY.md O11/O15); this operator is the piece that makes a
converted 100 TB table *queryable* at interactive cost.

``tests/test_converter.py::test_range_clustered_layout`` proves the
contract from the written footers: disjoint per-file ranges, rows sorted
within files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from evolution_spark.io.sqltext import quote_ident


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: str | list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet range-clustered on ``cluster_cols``.

    ``n_files`` controls clustering granularity: more files = finer skipping
    but more footers/tasks. Size so one file ≈ one HDFS-block-ish unit at
    target scale (e.g. 100 TB / 1 GB ≈ 100k files); defaults to the session's
    ``spark.sql.shuffle.partitions``.
    """
    cols = [cluster_cols] if isinstance(cluster_cols, str) else list(cluster_cols)
    n = n_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def _morton_interleave_sql(col_sqls: list[str], bits: int) -> str:
    """Morton (Z-curve) bit-interleave of k pre-scaled integer column SQL
    expressions: bit i of column j lands at output bit i*k + j. Static
    expression tree (k*bits OR/shift terms), fully inside codegen — no
    UDF. Built as ONE SQL string parsed by a single F.expr call: the
    Column-API form issued ~4 py4j round trips per term (k*bits terms =
    hundreds of driver->JVM calls, measured 0.26 s of the zorder build's
    socket wait), the parsed form is one round trip for the same tree."""
    k = len(col_sqls)
    z = "CAST(0 AS BIGINT)"
    for j, c in enumerate(col_sqls):
        for i in range(bits):
            z = f"({z} | shiftleft((shiftright({c}, {i}) & 1), {i * k + j}))"
    return z


def zorder_dataframe(
    df: DataFrame,
    cluster_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> DataFrame:
    """Return ``df`` Z-order-clustered (repartitionByRange + sort on the
    Morton code of min-max-scaled ``cluster_cols``) WITHOUT writing — the
    shared clustering core behind ``write_zorder_clustered`` and
    ``delta_log.optimize_delta(zorder_by=...)``. Each output partition
    covers a small hyper-rectangle of the key space, so whatever sink
    consumes it produces files with tight per-column min/max footers."""
    from pyspark.sql import functions as F

    cols = list(cluster_cols)
    if not cols:
        raise ValueError("cluster_cols must be non-empty")
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"too many cluster columns ({len(cols)}): need >=1 bit each")
    if n_files is not None and n_files < 1:
        # `or`-fallback would silently treat 0 as "use the default" — the
        # coalesce path errors on 0, so this path must too
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    n = n_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__mx_{c}") for c in cols],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    # min-max scaling + Morton code as ONE parsed SQL expression (see
    # _morton_interleave_sql): same expression tree as the Column-API
    # chain, a single py4j round trip instead of hundreds
    scaled = []
    for c in cols:
        mn, mx = quote_ident(f"__mn_{c}"), quote_ident(f"__mx_{c}")
        span = f"(CASE WHEN {mx} > {mn} THEN ({mx} - {mn}) ELSE 1.0D END)"
        scaled.append(
            f"least(CAST(floor((CAST({quote_ident(c)} AS DOUBLE) - {mn})"
            f" / {span} * {top}) AS BIGINT), CAST({top} AS BIGINT))"
        )
    z = F.expr(_morton_interleave_sql(scaled, bits))
    return (
        with_stats.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols])
    )


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet Z-order-clustered on ``cluster_cols`` — the
    multi-dimensional data-skipping layout (Delta/Iceberg ``OPTIMIZE
    ZORDER`` equivalent, built from Spark primitives).

    Range clustering gives perfect skipping on ONE key and none on the
    others; interleaving the keys' bits on the Z space-filling curve makes
    every file cover a small hyper-rectangle of the key space, so per-file
    min/max footers stay tight on EVERY clustered column and a k-dimensional
    box predicate prunes most files on each dimension.

    Mechanics: each column is min-max scaled to a ``bits``-bit integer (one
    scalar aggregate, broadcast back — no shuffle), the Morton code is a
    static shift/OR expression tree, and the write is
    ``repartitionByRange(z)`` + ``sortWithinPartitions(z)``. Two passes over
    the data (stats + write) — the standard cost of any clustering rewrite.

    Scale: the z-value shuffle is the only data movement; range boundaries
    come from Spark's reservoir sampling, so files stay balanced under skew.

    ``bits`` is clamped to ``63 // len(cluster_cols)`` so the interleaved
    code never reaches bit 63 (the long sign bit) — an overflow there would
    make high-key z-values negative and silently destroy locality for the
    top of the key range (e.g. 4 columns at the default 16 bits).
    """
    (
        zorder_dataframe(df, cluster_cols, bits=bits, n_files=n_files)
        .write.mode(mode)
        .parquet(path)
    )
