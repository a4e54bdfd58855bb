"""Third relational batch: set-operation ALL variants, union-by-name with
missing columns, lateral view (explode), SQL-surface subqueries (IN,
correlated scalar), and the second string-function tier (initcap/translate/
split_part/repeat/reverse/levenshtein)."""

from __future__ import annotations

from pyspark.sql import functions as F

from evolution_spark.queries.base import query, table


@query(
    "set_except_all",
    oracle="""
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def set_except_all(spark, sf_dir):
    """EXCEPT ALL (multiset difference — keeps surplus multiplicity)."""
    l = table(spark, sf_dir, "lineitem")
    a = l.where(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    r = l.where(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    return a.exceptAll(r)


@query(
    "set_intersect_all",
    oracle="""
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def set_intersect_all(spark, sf_dir):
    """INTERSECT ALL (multiset intersection)."""
    l = table(spark, sf_dir, "lineitem")
    a = l.where(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    r = l.where(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    return a.intersectAll(r)


@query(
    "union_by_name_missing",
    oracle="""
    SELECT c_name AS name, c_acctbal AS acctbal, NULL AS nationkey FROM customer
    WHERE c_acctbal > 9990
    UNION ALL
    SELECT s_name AS name, NULL AS acctbal, s_nationkey AS nationkey FROM supplier
    """,
)
def union_by_name_missing(spark, sf_dir):
    """unionByName(allowMissingColumns=True): schema-aligning union where
    each side misses a column (filled with typed nulls)."""
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9990)
        .select(F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"))
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "lateral_view_explode",
    oracle="""
    SELECT doc_id, word, COUNT(*) AS n
    FROM (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
          FROM documents)
    WHERE length(word) >= 6
    GROUP BY doc_id, word
    """,
)
def lateral_view_explode(spark, sf_dir):
    """Lateral view / explode: per-document word frequency for long words —
    the table-generating-function surface."""
    d = table(spark, sf_dir, "documents")
    from evolution_spark.functions.text import norm_text

    return (
        d.select("doc_id", F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"))
        .where(F.length("word") >= 6)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "sql_in_subquery",
    oracle="""
    SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      AND o_orderstatus = 'F'
    """,
)
def sql_in_subquery(spark, sf_dir):
    """IN-subquery through the SQL surface (parser + subquery planning —
    Catalyst rewrites to a left-semi join)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
        FROM orders_v
        WHERE o_custkey IN (SELECT c_custkey FROM customer_v
                            WHERE c_mktsegment = 'MACHINERY')
          AND o_orderstatus = 'F'
        """
    )


@query(
    "sql_correlated_scalar_subquery",
    oracle="""
    SELECT c.c_custkey AS custkey,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
            AND o.o_totalprice > 200000) AS n_big_orders
    FROM customer c
    """,
)
def sql_correlated_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (rewritten by Catalyst into an aggregate +
    left outer join)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v2")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v2")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey,
               (SELECT COUNT(*) FROM orders_v2 o WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 200000) AS n_big_orders
        FROM customer_v2 c
        """
    )


@query(
    "string_functions_2",
    oracle="""
    SELECT s_suppkey AS suppkey,
           -- DuckDB 1.0 has no initcap; supplier names are single-token so
           -- first-letter-upper is the equivalent of Spark's initcap here
           upper(substr(lower(s_name), 1, 1)) || substr(lower(s_name), 2) AS name_title,
           translate(s_name, '#', '_') AS name_translated,
           split_part(s_name, '#', 2) AS name_num,
           repeat('ab', 3) AS repeated,
           reverse(s_name) AS name_rev,
           levenshtein(s_name, 'Supplier#1') AS edit_dist,
           left(s_name, 4) AS name_left,
           right(s_name, 2) AS name_right,
           contains(s_name, '#') AS has_hash,
           starts_with(s_name, 'Supplier') AS is_supplier,
           ends_with(s_name, '1') AS ends_one
    FROM supplier
    """,
)
def string_functions_2(spark, sf_dir):
    """Second string tier: initcap/translate/split_part/repeat/reverse/
    levenshtein/left/right/contains/starts_with/ends_with."""
    s = table(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("suppkey"),
        F.initcap(F.lower("s_name")).alias("name_title"),
        F.translate("s_name", "#", "_").alias("name_translated"),
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.reverse("s_name").alias("name_rev"),
        F.levenshtein("s_name", F.lit("Supplier#1")).alias("edit_dist"),
        F.substring("s_name", 1, 4).alias("name_left"),
        F.col("s_name").substr(F.length("s_name") - 1, F.lit(2)).alias("name_right"),
        F.contains("s_name", F.lit("#")).alias("has_hash"),
        F.startswith("s_name", F.lit("Supplier")).alias("is_supplier"),
        F.endswith("s_name", F.lit("1")).alias("ends_one"),
    )


@query(
    "exists_not_exists_sql",
    oracle="""
    SELECT n.n_name AS nation_name,
           EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey) AS has_supplier
    FROM nation n
    """,
)
def exists_not_exists_sql(spark, sf_dir):
    """EXISTS as a boolean projection (not just a filter) through SQL."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v3")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v3")
    return spark.sql(
        """
        SELECT n.n_name AS nation_name,
               EXISTS (SELECT 1 FROM supplier_v3 s
                       WHERE s.s_nationkey = n.n_nationkey) AS has_supplier
        FROM nation_v3 n
        """
    )


@query(
    "percentile_exact",
    oracle="""
    SELECT l_returnflag AS returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.95) AS p95,
           median(l_quantity) AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles: Spark ``percentile`` and DuckDB
    ``quantile_cont`` implement the same linear interpolation over the sorted
    values — verified bit-exact. (The sketch-based one-pass path for 100 TB
    is ``approx_percentile_prices``.)"""
    l = table(spark, sf_dir, "lineitem")
    # One percentile buffer for all three quantiles (array form) instead of
    # three independent full-copy accumulations of the same column.
    return (
        l.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95))
            ).alias("ps"),
            F.median("l_quantity").alias("median_qty"),
        )
        .select(
            "returnflag",
            F.col("ps")[0].alias("p25"),
            F.col("ps")[1].alias("p50"),
            F.col("ps")[2].alias("p95"),
            "median_qty",
        )
    )


@query(
    "window_ntile_dist",
    oracle="""
    SELECT o_orderkey AS orderkey,
           NTILE(4) OVER w AS price_quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile_dist(spark, sf_dir):
    """ntile / percent_rank / cume_dist over a fully tie-broken global
    ordering (orderkey disambiguates equal prices, keeping bucket membership
    engine-independent).

    NOT a global Window.orderBy (single-partition funnel): the exact global
    rank comes from operators/rank.with_global_rank (range repartition +
    per-partition offsets, fully distributed), and all three order
    statistics are closed-form from (rank, n): percent_rank=(r-1)/(n-1),
    cume_dist=r/n (keys are unique), ntile via first-buckets-bigger fill.
    The global row count broadcasts as a 1-row join."""
    from evolution_spark.operators.rank import ntile_from_rank, with_global_rank

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = with_global_rank(o, ["o_totalprice", "o_orderkey"], rank_col="__r")
    n_df = o.agg(F.count(F.lit(1)).alias("__n"))
    r, n = F.col("__r"), F.col("__n")
    return ranked.crossJoin(F.broadcast(n_df)).select(
        F.col("o_orderkey").alias("orderkey"),
        ntile_from_rank(r, n, 4).alias("price_quartile"),
        F.when(n > 1, (r - 1) / (n - 1)).otherwise(F.lit(0.0)).alias("pct_rank"),
        (r / n).alias("cume"),
    )


@query(
    "stats_variance_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem
    ), sums AS (
      SELECT l_returnflag AS returnflag, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS s,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS ss
      FROM c GROUP BY 1
    )
    SELECT returnflag, n,
           (n * ss - s * s) / (n * (n - 1.0)) / 10000.0 AS var_price,
           sqrt((n * ss - s * s) / (n * (n - 1.0))) / 100.0 AS stddev_price
    FROM sums
    """,
)
def stats_variance_exact(spark, sf_dir):
    """Sample variance/stddev with EXACT integer accumulation: sum(x) and
    sum(x^2) run in exact integer/decimal arithmetic (order-independent),
    then one identical double-precision formula per group. Native
    stddev_samp would diverge across engines (Welford vs naive summation,
    order-dependent in the last ulps)."""
    l = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    sums = (
        l.select(F.col("l_returnflag").alias("returnflag"), x.alias("x"))
        .groupBy("returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("double").alias("s"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("double").alias("ss"),
        )
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    return sums.select(
        "returnflag",
        "n",
        ((n * ss - s * s) / (n * (n - 1.0)) / 10000.0).alias("var_price"),
        (F.sqrt((n * ss - s * s) / (n * (n - 1.0))) / 100.0).alias("stddev_price"),
    )


@query(
    "date_series_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             COUNT(*) AS n_orders,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ),
    bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    cal AS (
      SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    )
    SELECT strftime(cal.day, '%Y-%m-%d') AS day,
           COALESCE(daily.n_orders, 0) AS n_orders,
           COALESCE(daily.revenue, 0.0) AS revenue
    FROM cal LEFT JOIN daily USING (day)
    """,
)
def date_series_gap_fill(spark, sf_dir):
    """Time-series gap filling: generate a contiguous daily calendar with
    ``sequence(min, max)`` + ``explode`` (DuckDB: ``generate_series``) and
    left-join per-day order aggregates, zero-filling missing days. The
    reference has no date types at all (SURVEY §1.2); this is the canonical
    densification step before any window/forecast pass.

    Scale: the calendar derives from a single-row global min/max aggregate
    (one map-side-combined pass), and both join sides are one-row-per-day —
    tiny regardless of input scale, so the join broadcasts and the only
    full-data work is the pre-aggregation."""
    o = table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    daily = o.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    bounds = o.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    cal = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    return cal.join(F.broadcast(daily), "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_orders", F.lit(0).cast("bigint")).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT l_orderkey AS orderkey,
           l_returnflag AS flag,
           COUNT(*) * 10 AS cnt10
    FROM lineitem
    GROUP BY 1, 2
    HAVING COUNT(*) * 10 >= 20
    """,
)
def map_functions(spark, sf_dir):
    """Map-typed column surface: build a per-order ``flag -> count`` map with
    ``map_from_entries``, rescale values with ``transform_values``, prune
    entries with ``map_filter``, and ``explode`` back to rows (the
    engine-neutral comparison form). The oracle is the equivalent relational
    formulation — the values prove the map path end-to-end.

    Scale: ONE shuffle on the order key serves BOTH aggregations
    (HashPartitioning on a subset of the grouping keys satisfies the
    (orderkey, flag) clustering requirement, and the map build then needs
    no second exchange) — r15: this replaced the former
    groupBy(orderkey, flag) -> groupBy(orderkey) double exchange, 2x
    faster measured; map cardinality is bounded by the flag domain (3),
    so state per key is O(1). The explicit count pins the exchange width
    ahead of the compute-dense map build (AQE would size it on bytes
    alone)."""
    l = table(spark, sf_dir, "lineitem")
    n = spark.sparkContext.defaultParallelism
    per = (
        l.select("l_orderkey", "l_returnflag")
        .repartition(n, "l_orderkey")
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    maps = per.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_returnflag", "cnt")))
        ).alias("m")
    )
    pruned = maps.select(
        "orderkey",
        F.map_filter(
            F.transform_values("m", lambda _, v: v * 10), lambda _, v: v >= 20
        ).alias("m"),
    )
    return pruned.select("orderkey", F.explode("m").alias("flag", "cnt10"))


@query(
    "stats_corr_exact",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag AS returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                      * CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))
                      * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT returnflag, n,
           (n * sxy - sx * sy) / (n * (n - 1.0)) / 100.0 AS covar_qty_price,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM sums
    """,
)
def stats_corr_exact(spark, sf_dir):
    """Sample covariance + Pearson correlation with EXACT integer
    accumulation (the ``stats_variance_exact`` pattern extended to the
    cross-moment): all five sums are order-independent integers, then one
    identical double-precision formula per group — native covar_samp/corr
    would diverge across engines in the last ulps (merge-formula and
    order dependent)."""
    l = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    sums = (
        l.select(F.col("l_returnflag").alias("returnflag"), x.alias("x"), y.alias("y"))
        .groupBy("returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum((F.col("y").cast("decimal(38,0)") * F.col("y"))).cast("double").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return sums.select(
        "returnflag",
        "n",
        ((n * sxy - sx * sy) / (n * (n - 1.0)) / 100.0).alias("covar_qty_price"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
    )


@query(
    "table_profile",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def table_profile(spark, sf_dir):
    """Column profiler (the data-quality pass every ingestion pipeline runs
    first): null count, exact distinct count, min/max per profiled column.
    One scan computes all three columns' profiles (a single multi-distinct
    aggregate — Spark expands it to one Expand + hash-agg, not three
    scans); output is one row per column, stringified for a uniform
    schema."""
    o = table(spark, sf_dir, "orders")

    def prof(c):
        return [
            F.sum(F.col(c).isNull().cast("int")).cast("bigint").alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]

    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = [a for c in cols for a in prof(c)]
    one = o.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stacked}) AS (col, n_nulls, n_distinct, min_val, max_val)"
    )


@query(
    "equidepth_histogram",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM ranked GROUP BY bucket
    """,
)
def equidepth_histogram(spark, sf_dir):
    """Equi-depth (equal-count) histogram of order prices: 8 buckets with
    near-equal populations and data-adaptive boundaries — the distribution
    summary optimizers and skew detectors use. Built on the DISTRIBUTED
    global rank (operators/rank.py, no single-partition window) + the
    closed-form ntile; DuckDB's native NTILE is the oracle."""
    from evolution_spark.operators.rank import ntile_from_rank, with_global_rank

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = with_global_rank(o, ["o_totalprice", "o_orderkey"], rank_col="__r")
    n_df = o.agg(F.count(F.lit(1)).alias("__n"))
    bucketed = ranked.crossJoin(F.broadcast(n_df)).select(
        "o_totalprice",
        ntile_from_rank(F.col("__r"), F.col("__n"), 8).alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@query(
    "stats_mad_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS rf,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem
    ), m AS (
      SELECT rf, quantile_cont(x, 0.5) AS med FROM c GROUP BY rf
    )
    SELECT c.rf AS returnflag,
           MAX(m.med) / 100.0 AS median_price,
           quantile_cont(ABS(c.x - m.med), 0.5) / 100.0 AS mad_price
    FROM c JOIN m ON c.rf = m.rf
    GROUP BY c.rf
    """,
)
def stats_mad_exact(spark, sf_dir):
    """Median absolute deviation per group — the robust dispersion measure
    (outlier-proof where stddev is not). Two grouped exact percentiles in
    integer-cents space: the per-group median broadcasts back (tiny side,
    AQE picks broadcast), then the median of absolute deviations. Both
    interpolated percentiles run over exact integers / exact halves, so
    the doubles are bit-identical cross-engine (same discipline as
    percentile_exact)."""
    l = table(spark, sf_dir, "lineitem")
    c = l.select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
    )
    m = c.groupBy("rf").agg(F.expr("percentile(x, 0.5)").alias("med"))
    j = c.join(m, "rf")
    return j.groupBy(F.col("rf").alias("returnflag")).agg(
        (F.max("med") / 100.0).alias("median_price"),
        (F.expr("percentile(ABS(x - med), 0.5)") / 100.0).alias("mad_price"),
    )


@query(
    "recursive_cte_ancestry",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS custkey, c_custkey AS cur, 0 AS depth FROM customer
      UNION ALL
      SELECT custkey, cur // 10 AS cur, depth + 1 FROM anc WHERE cur >= 10
    )
    SELECT root, depth, COUNT(*) AS n_customers,
           MIN(custkey) AS min_key, MAX(custkey) AS max_key
    FROM (
      SELECT custkey, MAX(depth) AS depth,
             MIN(CASE WHEN cur < 10 THEN cur END) AS root
      FROM anc GROUP BY custkey
    ) GROUP BY root, depth
    """,
)
def recursive_cte_ancestry(spark, sf_dir):
    """Recursive CTE (Spark 4's WITH RECURSIVE, SPARK-24497): walk each
    customer key up its implicit decimal-digit ancestry chain
    (``parent = key div 10``) to the single-digit root — a bounded
    hierarchical closure, the query shape behind org charts, category
    trees, and BOM explosions that plain joins cannot express. Grouped by
    (root, depth) so every customer's full walk feeds the hash. Integer
    arithmetic end to end — bit-exact cross-engine.

    Scale: Spark executes the recursion as iterative UNION steps, one job
    per level; depth is log10(max key) (~7 at 100 TB key ranges), and each
    level is a narrow projection+filter of the previous level's frontier —
    the same bounded-rounds discipline as the label-propagation
    connected-components operator (operators/graph.py)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_rcte")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey AS custkey, c_custkey AS cur, 0 AS depth
          FROM customer_rcte
          UNION ALL
          SELECT custkey, cur div 10 AS cur, depth + 1 FROM anc WHERE cur >= 10
        )
        SELECT root, depth, COUNT(*) AS n_customers,
               MIN(custkey) AS min_key, MAX(custkey) AS max_key
        FROM (
          SELECT custkey, MAX(depth) AS depth,
               MIN(CASE WHEN cur < 10 THEN cur END) AS root
          FROM anc GROUP BY custkey
        ) GROUP BY root, depth
        """
    )
