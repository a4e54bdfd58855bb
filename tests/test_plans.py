"""Physical-plan quality gates: the scale properties claimed in docstrings
must be visible in ``explain()`` output — filters pushed to the parquet scan,
dimension joins broadcast, aggregations partial (map-side), hot paths inside
WholeStageCodegen, and no Python evaluation in JVM-only pipelines."""

from __future__ import annotations

import pytest

from evolution_spark.queries import QUERIES


def plan_of(spark, sf_dir, name) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def formatted(spark, sf_dir, name) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    plan = formatted(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial aggregation before the exchange (map-side combine)
    assert "HashAggregate" in plan and "Exchange" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange") or plan.count("HashAggregate") >= 2


def test_q1_column_pruning(spark, sf_dir):
    plan = formatted(spark, sf_dir, "q1_pricing_summary")
    # ReadSchema must NOT include unused columns like l_orderkey/l_partkey
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume",
                                  "q10_returned_items", "q14_promo_revenue",
                                  "topk_per_group"])
def test_dimension_joins_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


def test_q3_take_ordered_no_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # limit+orderBy fused, no full sort


def test_semi_anti_join_strategies(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_left_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_left_anti")


def test_jvm_only_pipelines_have_no_python(spark, sf_dir):
    """Core pipelines must not drop into Python row evaluation."""
    for name in ["q1_pricing_summary", "dedup_exact", "dedup_minhash_lsh",
                 "text_stats", "knn_bruteforce_cosine", "tumbling_window_hourly"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_whole_stage_codegen_active(spark, sf_dir):
    import contextlib
    import io

    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE materializes codegen subtrees only after execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    out = buf.getvalue()
    assert "Found" in out and "WholeStageCodegen subtrees" in out
    assert "Found 0" not in out


def test_flf_parse_is_single_narrow_stage(spark, tmp_path):
    """The FLF convert pipeline must be shuffle-free: scan -> project -> sink."""
    from evolution_spark.converter import Converter
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import FixedSchema

    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "a", "offset": 0, "length": 10, "dtype": "Int64", "is_nullable": False},
            {"name": "b", "offset": 10, "length": 20, "dtype": "Utf8", "is_nullable": True}]}
    )
    flf = str(tmp_path / "m.flf")
    Mocker(sch, 100, flf, seed=1).run(spark)
    df = Converter(flf, sch, "unused").dataframe(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: no shuffle anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("which", ["bench", "F1", "F4"])
def test_flf_parse_expression_shape(spark, tmp_path, which):
    """Each field is sliced, trimmed and cast exactly once per row: the
    optimized plan of ``Converter.dataframe`` holds one ``char_length`` (the
    line's one-byte-per-rune gate), one byte slice and one codepoint slice
    per column (the two branches of one ``IF``), one ``try_cast`` per
    Int/Float column and one ``RLIKE`` per Int column (two with a digit
    pad), all in one whole-stage-codegen subtree with no exchange and no
    Python. A single nested Column tree per field repeats the slice, trim
    and cast in each CASE branch and fails this."""
    import contextlib
    import io

    from evolution_spark.converter import Converter
    from evolution_spark.schema import BENCH_FLF_SCHEMA_DICT, FixedSchema
    from tests.test_fixtures import F1_VALID_TEST, F4_EDGE

    sch = {"bench": FixedSchema.from_dict(BENCH_FLF_SCHEMA_DICT),
           "F1": F1_VALID_TEST, "F4": F4_EDGE}[which]
    flf = tmp_path / "lines.flf"
    flf.write_text(" " * sch.row_length + "\n")
    df = Converter(str(flf), sch, "unused").dataframe(spark)
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "more fields" not in plan
    ints = [c for c in sch.columns if c.dtype.startswith("Int")]
    floats = [c for c in sch.columns if c.dtype.startswith("Float")]
    digit_pads = [c for c in ints if c.pad_char.isdigit()]
    assert plan.count("char_length(") == 1
    assert plan.count("cast(substring(") == len(sch.columns)  # byte slices
    assert plan.count("substring(") == 2 * len(sch.columns)
    assert plan.count("try_cast(") == len(ints) + len(floats)
    assert plan.count("RLIKE(") == len(ints) + len(digit_pads)
    executed = qe.executedPlan().toString()
    assert "Exchange" not in executed
    assert "BatchEvalPython" not in executed and "ArrowEvalPython" not in executed
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "Found 1 WholeStageCodegen subtrees" in buf.getvalue()


def test_knn_probes_are_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "knn_bruteforce_cosine")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_band_join_carries_only_ids(spark, sf_dir):
    """The LSH band self-join must not shuffle shingle arrays."""
    plan = formatted(spark, sf_dir, "dedup_minhash_lsh")
    # No exchange may carry shingle arrays or document text — shuffles move
    # only ids/hashes. (At tiny SF the band join may broadcast instead of
    # shuffle; the invariant is about what any exchange carries.)
    lines = plan.splitlines()
    exch_cols = [l for l in lines if "Arguments: hashpartitioning" in l]
    assert exch_cols, "expected at least one exchange"
    assert all("shingle" not in l and " text#" not in l for l in exch_cols)


@pytest.mark.parametrize("name", ["q2_min_cost_supplier", "q8_market_share",
                                  "q9_product_type_profit", "q20_part_promotion"])
def test_batch4_dimension_joins_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    assert "CartesianProduct" not in plan, f"{name}: unexpected cartesian product"


def test_q8_single_shuffle(spark, sf_dir):
    """Q8's only exchange should be the final year aggregation — every
    dimension join must broadcast (at real scale orders/lineitem join may
    shuffle; the invariant at test SF is no unnecessary exchange)."""
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q11_scalar_total_is_broadcast(spark, sf_dir):
    """The global-total scalar must reach the per-part rows via a broadcast
    (nested-loop of a 1-row side), never a shuffle of the big side."""
    plan = plan_of(spark, sf_dir, "q11_important_parts")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q17_window_not_rejoin(spark, sf_dir):
    """The correlated AVG is a window over l_partkey: exactly one exchange
    for the window, no self-join of lineitem."""
    plan = plan_of(spark, sf_dir, "q17_small_quantity_revenue")
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert plan.count("Scan parquet") <= 2  # lineitem once + part once


@pytest.mark.parametrize("name", ["train_test_split_hash", "stratified_sample_hash",
                                  "entity_scrub_redact", "doc_length_histogram",
                                  "embedding_quantize_int8", "random_projection_reduce"])
def test_pipeline_ops_stay_jvm_side(spark, sf_dir, name):
    """Curation operators are pure column expressions: no Python eval, and
    the narrow ones (split/sample/scrub/quantize/projection) have no shuffle."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    if name != "train_test_split_hash" and name != "doc_length_histogram":
        assert "Exchange" not in plan, f"{name}: unexpected shuffle in narrow op"


def test_stratified_sample_pushes_id_scan_only(spark, sf_dir):
    """The hash-threshold sample must not read the text column at all."""
    plan = formatted(spark, sf_dir, "stratified_sample_hash")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Tables bucketed+sorted on the join key must join with NO Exchange and
    NO Sort on either side — the write-time shuffle is reused forever."""
    from pyspark.sql import functions as F

    from evolution_spark.io.bucketed import read_table, write_bucketed

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed(o, "orders_b", str(tmp_path / "orders_b"), "o_orderkey", 8)
    write_bucketed(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", str(tmp_path / "lineitem_b"), "o_orderkey", 8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            read_table(spark, "orders_b")
            .join(read_table(spark, "lineitem_b"), "o_orderkey")
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in join_part, "bucketed join shuffled"
        # row-count sanity: same result as the plain (shuffling) join
        expected = o.join(
            l.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
        assert joined.agg(F.sum("n")).collect()[0][0] == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_gap_fill_calendar_join_is_broadcast(spark, sf_dir):
    # both sides collapse to one-row-per-day before the join; the daily
    # aggregate side is explicitly broadcast, so no shuffle join at any scale
    plan = plan_of(spark, sf_dir, "date_series_gap_fill")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_map_functions_single_wide_shuffle(spark, sf_dir):
    # the (orderkey, flag) pre-agg must be partial (map-side combine) and the
    # per-order map build is an objectagg over already-shuffled rows
    plan = plan_of(spark, sf_dir, "map_functions")
    assert "Exchange" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q18_preaggregates_before_join(spark, sf_dir):
    # the lineitem sum+HAVING must run BEFORE the orders join so the join
    # input is qualifying orders, not raw lineitem (see q18 docstring).
    # In executedPlan.toString the root prints first and children after, so
    # the aggregate feeding the join must appear AFTER the join line; and
    # the HAVING filter on the aggregated sum must exist at all.
    plan = plan_of(spark, sf_dir, "q18_large_orders")
    join_pos = plan.index("Join")
    assert plan.count("HashAggregate") >= 2  # partial + final on lineitem
    assert plan.index("HashAggregate") > join_pos
    assert "sum_qty" in plan and "> 120" in plan


def test_ivf_centroids_no_global_window(spark, sf_dir):
    # sample_centroids must compile to TakeOrderedAndProject (distributed
    # top-k), never an unpartitioned Window over the whole corpus
    from evolution_spark.operators.ivf import sample_centroids
    from evolution_spark.queries.base import table

    e = table(spark, sf_dir, "embeddings")
    plan = (
        sample_centroids(e, "vec_id", "embedding", 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrdered" in plan
    assert "Window" not in plan


def test_ivf_assignment_no_corpus_shuffle(spark, sf_dir):
    # assign_cells must never hash-exchange the corpus (vectors included):
    # centroids collapse to one broadcast row, argmin is per-row array math
    from evolution_spark.operators.ivf import assign_cells, sample_centroids
    from evolution_spark.queries.base import table

    e = table(spark, sf_dir, "embeddings")
    c = sample_centroids(e, "vec_id", "embedding", 8)
    plan = (
        assign_cells(e, c, "vec_id", "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_ranking_broadcasts_and_topk(spark, sf_dir):
    """TF-IDF/BM25: the DF/N/avgdl side-aggregates must broadcast (never
    shuffle the TF frame against them), and BM25's top-10 must be
    TakeOrderedAndProject, not a global sort."""
    for name in ["tfidf_top_terms", "bm25_rank"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: side aggregates not broadcast"
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "bm25_rank")


def test_connected_components_shuffles_only_labels(spark, sf_dir):
    """The component loop's shuffles carry (id, label) pairs only — document
    text must stay out of the iterated frames."""
    df = QUERIES["dedup_cluster_components"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.lower().replace("context", "")


def test_contamination_bench_set_is_broadcast(spark, sf_dir):
    """ngram_contamination: the benchmark gram set must arrive via
    BroadcastHashJoin — the corpus side never shuffles gram text."""
    plan = plan_of(spark, sf_dir, "ngram_contamination")
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere (corpus grams never co-partitioned by text)
    assert "SortMergeJoin" not in plan


def test_repetition_metrics_shuffle_free(spark, sf_dir):
    """repetition_metrics: zero shuffles — every metric (including the
    max-run-length top-word count) is computed narrow, per scan partition."""
    plan = plan_of(spark, sf_dir, "repetition_metrics")
    assert "Exchange" not in plan, "repetition metrics must run at scan speed"


def test_quality_filter_is_shuffle_free(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "quality_filter_gopher")
    assert "Exchange" not in plan, "quality gate must run at scan speed"


def test_scd2_single_shuffle_shared_sort(spark, sf_dir):
    """scd2: one exchange on the entity key; the two window passes reuse
    one sort (no second Exchange, at most the sorts Catalyst keeps)."""
    plan = plan_of(spark, sf_dir, "scd2_user_status")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ntile_dist_has_no_single_partition_window(spark, sf_dir):
    """window_ntile_dist must compute global order statistics WITHOUT the
    single-partition global-window funnel; the only SinglePartition
    exchanges allowed are the O(n_partitions) offsets table and the 1-row
    global count."""
    # gate the UNCUT plan: production cuts lineage at the stamped frame
    # (two-branch partitioning hazard), which hides the range exchange
    # behind a LogicalRDD in the final query plan
    from pyspark.sql import functions as F

    from evolution_spark.operators.rank import with_global_rank

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ranked = with_global_rank(
        df, ["o_totalprice", "o_orderkey"], cut_lineage=False
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" not in l:
            continue
        above = "".join(lines[max(0, i - 6):i])
        assert "__cnt" in above or "count" in above or "HashAggregate" in above, (
            "SinglePartition exchange feeds something other than the tiny "
            f"offsets/count aggregates:\n{''.join(lines[max(0, i-6):i+1])}"
        )
    assert "rangepartitioning" in plan.lower()


def test_dedup_repeated_chunks_partial_agg_no_python(spark, sf_dir):
    """Winner election must be a hash aggregate with map-side combine
    (partial_min before the exchange), the kept-index lists must rejoin
    the docs in ONE join (document text crosses the wire at most once —
    the winner shuffles carry only hashes and ints), and nothing may fall
    back to Python evaluation (pure built-in expressions end to end)."""
    plan = plan_of(spark, sf_dir, "dedup_repeated_chunks")
    assert "partial_min" in plan  # hot chunks collapse before the shuffle
    assert "Join" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no window operator anywhere: a row_number-over-chunk formulation would
    # build one unbounded partition per hot span
    assert "Window" not in plan


def test_pq_encode_no_corpus_shuffle(spark, sf_dir):
    """PQ encoding must be a narrow pass: the packed codebook arrives by
    broadcast and no Exchange touches the corpus before the codes project
    (the only exchanges allowed belong to the tiny codebook build)."""
    plan = plan_of(spark, sf_dir, "pq_encode_codes")
    assert "Broadcast" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    plan2 = plan_of(spark, sf_dir, "pq_adc_topk")
    assert "TakeOrderedAndProject" in plan2


def test_ivf_pq_topk_narrow_scan(spark, sf_dir):
    """IVF-PQ search: the corpus path must stay narrow (broadcast codebook,
    literal centroid/ADC tables, no Python eval) with top-k as
    TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "ivf_pq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Broadcast" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_dedup_shuffles_fingerprints_only(spark, sf_dir):
    """The batch-vs-corpus join must exchange md5 fingerprints, never
    document text: no exchange argument list may contain the text column."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_batch")
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_pq_rerank_shortlist_broadcasts(spark, sf_dir):
    """Exact rescoring must touch only the broadcast shortlist: a
    BroadcastExchange feeds the semi-join and the final cut is
    TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "ivf_pq_rerank_topk")
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_pmi_single_scan(spark, sf_dir):
    """PMI collocations must read documents exactly ONCE: unigram counts,
    the corpus token total, and the pair table all re-aggregate one shared
    (w1, w2) exchange (ReusedExchange), and the total rides in-plan — no
    separate count() job re-scanning the corpus."""
    import re

    df = QUERIES["bigram_pmi_collocations"](spark, sf_dir)
    df.collect()  # AQE: reuse is visible only in the final plan
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ).split("== Initial Plan ==")[0]
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan
    assert plan.count("ReusedExchange") >= 3, plan


def test_ivf_partitioned_scan_prunes_cells(spark, tmp_path):
    """The IVF production layout must turn the cell predicate into
    PartitionFilters: only probed cell directories are read, and no data
    filter on cell_id remains."""
    from pyspark.sql import functions as F

    from evolution_spark.io.ivf_layout import read_ivf_cells, write_ivf_partitioned

    df = spark.range(400).select(
        F.col("id").alias("vec_id"), (F.col("id") % 8).cast("int").alias("cell_id")
    )
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(df, path)
    back = read_ivf_cells(spark, path, [1, 3])
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "cell_id" in part_lines[0], plan
    # the predicate is fully answered by pruning: no residual data filter
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert not pushed or "cell_id" not in pushed[0], plan
    assert back.count() == 100
    # pruning is physical: the executed scan reads only the files under the
    # two probed cell directories (inputFiles() would list all 8 — it
    # predates pruning)
    import glob

    probed_files = len(glob.glob(f"{path}/cell_id=1/*.parquet")) + len(
        glob.glob(f"{path}/cell_id=3/*.parquet")
    )
    all_files = len(glob.glob(f"{path}/cell_id=*/*.parquet"))
    back.collect()
    scan = back._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    num_files_read = scan.metrics().apply("numFiles").value()
    assert probed_files < all_files
    assert num_files_read == probed_files, (num_files_read, probed_files)


def test_dynamic_partition_pruning_on_hive_layout(spark, tmp_path):
    """Dynamic partition pruning: a fact table hive-partitioned on the join
    key, joined to a dimension filtered by a non-partition predicate, must
    scan only the partitions the dimension selects — the plan carries a
    dynamicpruning expression in the fact scan's PartitionFilters. At
    100 TB this is the difference between scanning one day's partitions
    and scanning the table."""
    from pyspark.sql import functions as F

    l = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    fact = str(tmp_path / "fact")
    l.write.partitionBy("l_returnflag").parquet(fact)
    dim = spark.createDataFrame(
        [("A", 1), ("N", 0), ("R", 0)], "flag STRING, keep INT"
    )
    f = spark.read.parquet(fact)
    q = f.join(dim.where(F.col("keep") == 1), f.l_returnflag == dim.flag).agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # and the pruned result is correct
    n = q.first()["n"]
    assert n == l.where("l_returnflag = 'A'").count()


def test_runtime_bloom_filter_on_shuffle_join(spark, tmp_path):
    """Runtime bloom-filter join pruning: when a selective build side feeds
    a shuffle join, Spark injects a bloom filter on the probe side so
    non-matching fact rows die at the scan instead of crossing the
    exchange. Forced here (broadcast off, size thresholds floored) and
    asserted via the might_contain probe in the optimized plan — the
    runtime-filter analogue of the broadcast-dim strategy the dimension
    queries already gate."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        q = l.join(o, l.l_orderkey == o.o_orderkey).agg(
            F.sum("l_quantity").alias("qty")
        )
        optimized = (
            q._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "might_contain" in optimized.lower()
        assert q.first()["qty"] is not None
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_join_no_cartesian(spark, sf_dir):
    """The edit-distance join must build candidates from keyed equality
    joins (segment pigeonhole), never a cartesian/nested-loop product —
    the whole point of PassJoin at corpus scale."""
    plan = plan_of(spark, sf_dir, "fuzzy_join_supplier_names")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_range_partitioned_no_cartesian(spark, sf_dir):
    """The distributed skyline must be the sort-scan plan: range exchange on
    (price, size), no quadratic join, and the only unpartitioned window runs
    over the per-partition max table (metadata-sized), never the data."""
    from pyspark.sql import functions as F

    from evolution_spark.operators.pareto import skyline_2d

    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").alias("size"),
    )
    # uncut plan exposes the range exchange the production cut hides
    df = skyline_2d(p, "price", "size", cut_lineage=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # survivors rejoin the full rows via semi join, payload never sorts
    assert "LeftSemi" in plan


def test_weighted_sample_is_topk_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan  # md5/pow priority stays JVM-side


def test_markov_transitions_single_user_shuffle(spark, sf_dir):
    """One window shuffle on user_id; the per-from totals broadcast back."""
    plan = plan_of(spark, sf_dir, "markov_event_transitions")
    assert "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning(user_id") <= 2  # window exchange (+AQE reuse)


def test_ewma_no_python_no_extra_shuffle(spark, sf_dir):
    """Closed-form EWMA: window + hash agg on the same customer key, all
    JVM-side (the naive impl would be a sequential Python fold)."""
    plan = plan_of(spark, sf_dir, "ewma_customer_orders")
    assert "PythonUDF" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "WindowExec" in plan or "Window" in plan


def test_interpolate_windows_partitioned_by_type(spark, sf_dir):
    """Both IGNORE-NULLS windows must partition by event_type — a global
    single-task window over the spine would serialize the whole series."""
    plan = plan_of(spark, sf_dir, "interpolate_gapfill_hourly")
    assert "Window" in plan
    assert "SinglePartition" not in plan.split("Window")[1][:400]


def test_inverted_index_postings_capped_before_collect(spark, sf_dir):
    """The posting-list build must filter to rn<=50 BEFORE collect_list —
    the cap appears as a Filter under the window, so no aggregation buffer
    holds an O(corpus) list."""
    plan = plan_of(spark, sf_dir, "inverted_index_postings")
    assert "row_number()" in plan
    assert "rn#" in plan or "<= 50" in plan.replace("(", " ").replace(")", " ")


def test_winnow_single_exchange_pre_explode(spark, sf_dir):
    """winnow's only exchange must be the PRE-explode doc_id repartition:
    the gram stream (~20x the text bytes) never shuffles, and explode
    parallelism is independent of input file splits."""
    plan = plan_of(spark, sf_dir, "winnow_fingerprints")
    assert plan.count("Exchange") == 1
    # the exchange must sit below (after, in toString order) the generator:
    # toString prints top-down, so Generate (explode) appears BEFORE the
    # Exchange line only if the shuffle feeds the explode
    assert "Generate explode" in plan
    assert plan.index("Generate explode") < plan.index("Exchange")


def test_event_value_outliers_broadcast_and_topk(spark, sf_dir):
    """Group stats broadcast back onto the stream (no window over raw
    events) and the ranking is a distributed top-50, not a global sort."""
    plan = plan_of(spark, sf_dir, "event_value_outliers")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_session_path_topk_shares_session_sort(spark, sf_dir):
    """Path mining tops out as TakeOrderedAndProject; the session windows
    run over user_id partitioning, never a global (empty-partition)
    window."""
    plan = plan_of(spark, sf_dir, "session_path_topk")
    assert "TakeOrderedAndProject" in plan
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines, "expected keyed window passes"
    assert all("user_id" in l for l in window_lines), window_lines
    # the r <= 3 filter is pushed into the window as a group limit
    assert "WindowGroupLimit" in plan


def test_referential_audit_anti_joins(spark, sf_dir):
    """Each FK relationship audits via LEFT ANTI against the distinct dim
    key set — no cartesian products beyond the single-row count stitches."""
    plan = plan_of(spark, sf_dir, "referential_orphans_audit")
    assert plan.count("LeftAnti") == 4
    assert "CartesianProduct" not in plan


def test_theil_sen_banded_join_is_hash_join(spark, sf_dir):
    """The banded pair join must plan as an equi hash join on the lag
    bucket — a bare non-equi condition would fall back to a nested-loop
    doing O(days^2) comparisons."""
    plan = plan_of(spark, sf_dir, "theil_sen_trend_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dv_scan_broadcast_anti_join(spark, sf_dir):
    """The deletion-vector row filter must plan as a BROADCAST left-anti
    hash join on (file, row_index) — a shuffled or nested-loop variant
    would move table-sized data to drop a metadata-sized deleted set."""
    plan = plan_of(spark, sf_dir, "delta_deletion_vector_read")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_iceberg_position_delete_broadcast_anti_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "iceberg_position_delete_scan")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdf_changes_broadcast_position_joins(spark, sf_dir):
    """CDF row recovery joins the scan against driver-built position/
    version tables — all must broadcast (they are metadata-sized by
    construction); the scan side must never shuffle for them."""
    plan = plan_of(spark, sf_dir, "delta_cdf_changes")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_column_mapping_read_is_plain_scan(spark, sf_dir):
    """Physical->logical renaming is pure projection: the mapped read must
    stay a single parquet scan with no exchange and no join."""
    plan = plan_of(spark, sf_dir, "delta_column_mapping_read")
    agg_free = plan.split("HashAggregate")[0]  # the query's own agg is fine
    assert "Join" not in agg_free


def test_iceberg_mor_delete_scan_shape(spark, sf_dir):
    """After predicate DML + compaction the lifecycle read must be a
    plain scan-side plan: no nested-loop/cartesian anywhere, and any
    position-delete application a broadcast anti-join."""
    plan = plan_of(spark, sf_dir, "iceberg_mor_delete_lifecycle")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_iceberg_merge_scan_shape(spark, sf_dir):
    """The MOR MERGE result read applies the merge snapshot's position
    deletes as a broadcast anti-join; the scan side never shuffles to
    drop the metadata-sized deleted set."""
    plan = plan_of(spark, sf_dir, "iceberg_merge_cdc")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_schema_evolved_reads_are_union_of_plain_scans(spark, sf_dir):
    """The per-schema-epoch realigned reads (rename/widen history) must
    stay unions of plain parquet scans — field-id realignment is pure
    projection, so no join or exchange may appear before the query's own
    aggregate."""
    for name in ("iceberg_rename_widen_time_travel",
                 "delta_rename_drop_time_travel"):
        plan = plan_of(spark, sf_dir, name)
        agg_free = plan.split("HashAggregate")[0]
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in agg_free, name


def test_clone_scan_broadcasts_partition_lookup(spark, tmp_path):
    """A clone read's absolute-adds branch is ONE scan + a BROADCAST
    (file -> partitionValues) join — never a cartesian product or a
    per-partition-value scan fan-out (the plan must contain exactly one
    parquet scan for the absolute group)."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        clone_delta_table,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(
        spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 8).alias("p")
        ),
        src, partition_by=["p"],
    )
    clone_delta_table(src, dst)
    df = read_delta_snapshot(spark, dst)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan, "partition lookup not broadcast"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one scan for all 8 partition values, not 8 scans (explain may
    # render the reused scan twice under AQE; the fan-out regression
    # would show >= 8)
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")
    assert df.count() == 200


def test_transform_prune_is_metadata_only(spark, sf_dir, tmp_path):
    """Transform-aware pruning happens at the MANIFEST level: the pruned
    read's plan lists strictly fewer files and contains no join or
    Python stage on the read path."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "txgate")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_iceberg_table(
        o, path, partition_by=["bucket(4, o_custkey)"], distribute=True
    )
    pruned = read_iceberg_table(spark, path, partition_where={"o_custkey": 7})
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan and "ArrowEvalPython" not in plan
    assert len(pruned.inputFiles()) < len(
        read_iceberg_table(spark, path).inputFiles()
    )


def test_id_mode_read_is_pure_jvm_scan(spark, sf_dir):
    """Field-id resolution is a SCAN-level mechanism (SPARK-38094): the
    id-mode read must stay a plain parquet scan + projection — no Python
    eval, no join before the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_id_mode_read")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_nested_mapped_read_is_cast_projection(spark, sf_dir):
    """Nested physical->logical renaming is a positional struct CAST —
    pure projection over one scan: no Python, no join, no exchange
    before the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_nested_struct_mapping_read")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free and "Exchange" not in agg_free


def test_partition_evolution_read_unions_plain_scans(spark, sf_dir):
    """Per-(schema, spec)-epoch groups must stay a union of plain parquet
    scans; pruning is manifest-level (driver-side), so no join may feed
    the epochs and nothing nested-loops."""
    plan = plan_of(spark, sf_dir, "iceberg_partition_evolution")
    assert "Union" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_transform_write_column_has_no_python(spark):
    """Round-8: integral bucket transforms are built-in expressions —
    the partitioned-write projection must carry no Python eval (strings
    are the one documented Arrow-UDF exception)."""
    import datetime

    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_transforms import with_transform_column

    df = spark.createDataFrame(
        [(1, datetime.datetime(2020, 1, 2, 3, 4, 5))], "k long, ts timestamp"
    )
    for name, transform, src in [("kb", "bucket[8]", "k"),
                                 ("tsb", "bucket[8]", "ts"),
                                 ("tsm", "month", "ts")]:
        df = with_transform_column(
            df, name, transform, src, "long" if src == "k" else "timestamptz"
        )
    q = df.select("kb", "tsb", "tsm")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_foreign_features_read_is_plain_scan(spark, sf_dir):
    """Round 9: timestampNtz + v2Checkpoint affect LOG resolution only —
    the data plan must stay parquet scan(s) + the query's own aggregate:
    no Python eval, no join (checkpoint/sidecar folding is driver-side,
    metadata-sized)."""
    plan = plan_of(spark, sf_dir, "delta_foreign_features_read")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_invariants_read_is_plain_scan(spark, sf_dir):
    """Round 9: invariant enforcement is a COMMIT-time staged scan; the
    returned read plan is untouched — plain scans + aggregate, no Python,
    no join."""
    plan = plan_of(spark, sf_dir, "delta_invariants_enforced")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_iceberg_v3_dv_scan_broadcast_anti_join(spark, sf_dir):
    """Round 9: v3 Puffin DVs decode driver-side (cost ∝ deleted rows)
    and apply through the same (file, pos) BROADCAST anti-join as v2
    position deletes — never a shuffle or nested loop of the data side."""
    plan = plan_of(spark, sf_dir, "iceberg_v3_dv_read")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_source_nested_mapping_read_shape(spark, sf_dir):
    """Round 9: the evolution_delta DataSource resolves nested physical
    names per file INSIDE the source (Arrow view / rebuild) — the Spark
    side must show the Python data source scan feeding a broadcast-able
    equi-join (no nested loop, no cartesian), with the small dim join
    broadcast."""
    plan = plan_of(spark, sf_dir, "delta_source_nested_mapping_read")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_iceberg_v3_append_read_shape(spark, sf_dir):
    """Round 10: v3 lineage assignment is driver-side metadata — the
    read after upgrade+appends+DV delete must stay plain scans with the
    (file,pos) broadcast anti-join, no Python, no nested loop."""
    plan = plan_of(spark, sf_dir, "iceberg_v3_append")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_generated_columns_read_is_plain_scan(spark, sf_dir):
    """Round 10: generated-column validation is COMMIT-time; the read
    plan is plain scans + the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_generated_columns_enforced")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_identity_read_is_plain_scan(spark, sf_dir):
    """Round 10: identity generation is commit-time (zero-shuffle
    monotonically_increasing_id) and the mark update is driver-side — the
    returned read plan is plain scans + the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_identity_columns")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_type_widening_read_is_plain_scan(spark, sf_dir):
    """Round 10: the parquet reader performs the widening conversions
    natively — mixed-width files read as plain scans, no Python, no
    join, no per-file cast stage."""
    plan = plan_of(spark, sf_dir, "delta_type_widening_read")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_ict_read_shape(spark, sf_dir):
    """Round 10: ICT stamping is publish-time metadata; the read plan is
    scans + the broadcast DV anti-join + the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_in_commit_timestamps")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_row_tracking_read_is_plain_scan(spark, sf_dir):
    """Round 10: row-id assignment is commit-time metadata — the read
    plan is plain scans + the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_row_tracking_append")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_variant_read_shape(spark, sf_dir):
    """Round 10: variant decode is native (VariantGet inside codegen) —
    no Python, DV masking stays a broadcast anti-join."""
    plan = plan_of(spark, sf_dir, "delta_variant_read")
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multipart_checkpoint_read_is_plain_scan(spark, sf_dir):
    """Round 10: multi-part checkpoint resolution is driver-side — the
    data plan stays plain scans + the query's own aggregate."""
    plan = plan_of(spark, sf_dir, "delta_multipart_checkpoint_read")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_iceberg_v3_compaction_read_is_plain_scan(spark, sf_dir):
    """Round 11: lineage-preserving compaction materialized the DVs away
    and the ids into columns — the post-rewrite read is a plain scan +
    the query's aggregate (no anti-join, no Python, no lineage join)."""
    plan = plan_of(spark, sf_dir, "iceberg_v3_compaction_lifecycle")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free


def test_delta_row_tracking_optimize_read_is_plain_scan(spark, sf_dir):
    """Round 11: materialized-id OPTIMIZE — same shape as above for the
    Delta twin: DVs compacted away, plain scan + aggregate."""
    plan = plan_of(spark, sf_dir, "delta_row_tracking_optimize")
    assert "Python" not in plan
    agg_free = plan.split("HashAggregate")[0]
    assert "Join" not in agg_free
