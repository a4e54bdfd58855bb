"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS, else the host's CPUs] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver-side collect). The FLF conversion throughput entry covers the
reference's own workload (mock -> convert 1M rows, operators O1-O15).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

BENCH_QUERIES = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "window_row_number_latest",
    "topk_per_group",
    "agg_rollup",
    # events / time
    "session_window_gaps",
    "tumbling_window_hourly",
    # LLM pipeline
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "ann_lsh_topk",
    # temporal joins
    "asof_join_orders",
    "range_join_sessions",
    # extensions
    "time_rollup_multi",
    "ivf_cell_assignment",
    "percentile_exact",
    # batch-4 TPC-H + curation (added after BASELINE v1; per-query numbers
    # are the comparison unit — totals across versions are not comparable)
    "q8_market_share",
    "attribution_click_purchase",
    "chunk_documents_overlap",
    "embedding_quantize_int8",
    # batch-5 (added same round; new lines, no prior baseline to compare)
    "date_series_gap_fill",
    "map_functions",
    "hll_sketch_mergeable",
    "changelog_compaction",
    "stats_corr_exact",
    # batch-6: corpus-quality surface (round 2; new lines)
    "repetition_metrics",
    "ngram_contamination",
    "pack_sequences_budget",
    "scd2_user_status",
    "corpus_curation_pipeline",
    # batch-7: clustering + distributed-rank analytics (round 2; new lines)
    "kmeans_cluster_summary",
    "equidepth_histogram",
    "funnel_conversion",
    "cohort_retention",
    "dedup_ngram_jaccard",
    # batch-8: round-3 additions (new lines, first-recorded = their baseline)
    "dedup_repeated_chunks",
    "pq_encode_codes",
    "ivf_pq_topk",
    "ivf_pq_rerank_topk",
    "count_min_heavy_hitters",
    "dedup_incremental_batch",
    "source_quota_sample",
    # batch-9: the remaining never-benched round-3 queries + round-4 lines
    "bpe_token_stats",
    "topk_frequent_words",
    "bigram_pmi_collocations",
    "skew_join_salted",
    "zorder_cluster_scan",
    "rolling_features_events",
    "ivf_pq_topk_partitioned",
    "temperature_mix_sample",
    "incremental_partition_overwrite",
    "dedup_keep_best",
    "delta_roundtrip_customer",
    "avro_roundtrip_events",
    # batch-10: round-4 session-2 additions (first-recorded = their baseline)
    "iceberg_roundtrip_supplier",
    "semdedup_prune_summary",
    "ngram_lm_perplexity",
    "recursive_cte_ancestry",
    "multimodal_dhash_neardup",
    "fuzzy_join_supplier_names",
    # batch-11: graph/analytics + versioned-io additions (first-recorded =
    # their baseline)
    "pagerank_order_graph",
    "skyline_pareto_parts",
    "ewma_customer_orders",
    "markov_event_transitions",
    "inverted_index_postings",
    "interpolate_gapfill_hourly",
    "weighted_sample_docs",
    "delta_time_travel",
    "delta_merge_cdc",
    "multimodal_wav_features",
    "copurchase_similarity",
    "triangle_count_copurchase",
    "iceberg_append_time_travel",
    "delta_maintenance_lifecycle",
    "winnow_fingerprints",
    "concurrent_sessions_peak",
    "rolling_distinct_users",
    "brand_association_rules",
    "time_weighted_average",
    "ohlc_daily_bars",
    "dow_seasonality_profile",
    "linear_trend_by_type",
    "daily_new_vs_returning",
    "rfm_segments",
    "fulfillment_lag_percentiles",
    "zipf_exponent",
    "revenue_concentration",
    # batch-12: round-5 additions (first-recorded = their baseline)
    "referential_orphans_audit",
    "event_value_outliers",
    "session_path_topk",
    "pit_join_scd2_purchases",
    "bfs_khop_reach",
    "winsorize_event_values",
    "seasonal_decompose_orders",
    "cusum_changepoint_revenue",
    "ab_test_event_values",
    "delta_skipping_scan",
    "ipc_roundtrip_nation",
    "attribution_unmatched_clicks",
    "data_contract_orders",
    "feature_hash_vectorize",
    "theil_sen_trend_revenue",
    "iceberg_maintenance_lifecycle",
    "benford_digit_test",
    "lagged_crosscorr_orders",
    # batch-13: round-6 row-level-delete / evolution / codec surface
    "delta_deletion_vector_read",
    "iceberg_position_delete_scan",
    "delta_add_column_evolution",
    "iceberg_add_column_evolution",
    "delta_mor_delete_lifecycle",
    "delta_column_mapping_read",
    "multimodal_png_features",
    # batch-14: DML trio completion, CDC readers, Python data sources
    "delta_mor_update_lifecycle",
    "delta_cdf_changes",
    "iceberg_cdc_changes",
    "delta_python_source_read",
    "iceberg_python_source_read",
    "iceberg_equality_delete_scan",
    # batch-15: round-7 format symmetry (Iceberg write/DML/merge/evolution,
    # Delta column-mapping write + rename/drop, JPEG codec)
    "iceberg_python_source_write",
    "iceberg_mor_delete_lifecycle",
    "iceberg_mor_update_lifecycle",
    "iceberg_merge_cdc",
    "iceberg_rename_widen_time_travel",
    "delta_rename_drop_time_travel",
    "multimodal_jpeg_features",
    # batch-16: round-7 table maintenance surface (RESTORE/ROLLBACK, CHECK
    # constraints, stats-based file skipping, snapshot tags)
    "delta_restore_lifecycle",
    "iceberg_rollback_lifecycle",
    "delta_check_constraint_enforcement",
    "iceberg_stats_skipping",
    "iceberg_tag_pinned_read",
    "iceberg_partition_transforms",
    "iceberg_branch_lifecycle",
    "delta_shallow_clone",
    # batch-17: round-8 foreign-table surface (id-mode field-id reads,
    # partitioned column mapping, scoped equality deletes, CDF sidecars,
    # maintenance advisor; multimodal_jpeg_features above now covers the
    # progressive decoder on odd ids)
    "delta_id_mode_read",
    "delta_partitioned_rename_lifecycle",
    "iceberg_scoped_equality_delete",
    "delta_cdf_sidecar_roundtrip",
    "delta_table_health_advisor",
    "delta_nested_struct_mapping_read",
    "delta_cdf_stream_roundtrip",
    "iceberg_partition_evolution",
    "delta_history_audit",
    "iceberg_snapshots_audit",
    "delta_nested_rename_lifecycle",
    # batch-18: round-9 foreign-feature closure (timestampNtz + v2Checkpoint
    # read, nested mapping on the DataSource path, legacy invariants
    # enforcement, Iceberg v3 Puffin deletion vectors)
    "delta_foreign_features_read",
    "delta_source_nested_mapping_read",
    "delta_invariants_enforced",
    "iceberg_v3_dv_read",
    # batch-19: round-10 writer-feature closure (generated columns,
    # Iceberg v3 row-lineage appends, reader-ignorable feature tolerance)
    "delta_generated_columns_enforced",
    "iceberg_v3_append",
    "delta_identity_columns",
    "delta_type_widening_read",
    "delta_in_commit_timestamps",
    "delta_row_tracking_append",
    "delta_variant_read",
    "delta_multipart_checkpoint_read",
    # batch-20: round-11 lineage-preserving rewrites, v3 defaults, and the
    # JPEG decode-surface completion (arithmetic/lossless/hierarchical)
    "iceberg_v3_compaction_lifecycle",
    "delta_row_tracking_optimize",
    "iceberg_v3_default_values",
    "multimodal_arith_jpeg_features",
    "multimodal_lossless_jpeg_features",
    "multimodal_hier_jpeg_features",
    "multimodal_flac_features",
    "multimodal_gif_frames",
    "multimodal_tiff_features",
    "multimodal_cross_format_neardup",
    # batch-21: round-12 container-metadata walkers (no codec decode)
    # and the 16-bit-PNG / tiled-TIFF refusal lifts
    "multimodal_mp3_metadata",
    "multimodal_mp4_metadata",
    "multimodal_png16_tiled_tiff",
    "multimodal_webm_metadata",
    "multimodal_ogg_metadata",
    "multimodal_keyframe_ranges",
    "multimodal_fax_tiff",
    "multimodal_probe_mixed",
    "multimodal_sof11_jpeg_features",
    # batch-22: round-13 additions (first-recorded = their baseline)
    "multimodal_webp_features",
    "multimodal_webp_metadata",
    "warc_ingest_stats",
    "audio_metadata_neardup",
    "language_profile",
    "warc_media_probe",
    "multimodal_webp_animation",
    "multimodal_heif_metadata",
    "multimodal_exif_metadata",
    "arc_ingest_stats",
    "multimodal_apng_timeline",
    "multimodal_bmp_rle_features",
    # batch-23: round-14 additions (first-recorded = their baseline)
    "warc_html_text_stats",
    "warc_revisit_dedup",
    "audio_id3v22_metadata",
    "multimodal_webp_lossy_features",
    "crawl_html_pipeline",
    "warc_link_graph",
    "warc_corrupt_skip",
    # batch-24: round-15 additions (first-recorded = their baseline)
    "crawl_url_dedup",
]

# Registered queries deliberately NOT in the bench suite: basic
# relational/function shapes whose plans are fully covered by the
# TPC-H and analytics lines above (benching them would double suite
# wall time without adding signal). tests/test_bench_list.py forces
# every NEW registration to be placed in exactly one of the two lists,
# so a round can no longer end with an unsnapshotted query (the
# r11/r12 late-registration gap).
NOT_BENCHED = frozenset([
    "agg_approx_count_distinct",
    "agg_count_distinct_group",
    "agg_cube",
    "agg_global_stats",
    "agg_group_having",
    "agg_grouping_sets",
    "ann_lsh_buckets",
    "approx_percentile_prices",
    "array_functions",
    "asof_join_tolerance",
    "bm25_rank",
    "conditional_functions",
    "csv_roundtrip_orders",
    "date_diff_arithmetic",
    "date_extract_parts",
    "date_trunc_daily",
    "dedup_cluster_components",
    "dedup_minhash_signature",
    "dedup_simhash",
    "doc_fingerprint",
    "doc_length_histogram",
    "embedding_centroid_distance",
    "embedding_near_dup_planted",
    "entity_scrub_redact",
    "event_dedup_exact",
    "exists_not_exists_sql",
    "filter_predicates",
    "flf_mock_generate",
    "flf_parse_expression",
    "flf_roundtrip_customer",
    "join_cross",
    "join_full_outer",
    "join_inner",
    "join_left_anti",
    "join_left_outer",
    "join_left_semi",
    "join_right_outer",
    "json_props_extract",
    "jsonl_roundtrip_documents",
    "lang_id_heuristic",
    "lateral_view_explode",
    "math_functions",
    "multimodal_bmp_features",
    "null_safe_comparison",
    "orc_roundtrip_customer",
    "pivot_status_by_priority",
    "pq_adc_topk",
    "q10_returned_items",
    "q11_important_parts",
    "q12_priority_lines",
    "q13_customer_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q20_part_promotion",
    "q21_waiting_suppliers",
    "q22_idle_customers",
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q6_revenue_forecast",
    "q7_volume_shipping",
    "q9_product_type_profit",
    "quality_filter_gopher",
    "quality_score",
    "random_projection_reduce",
    "schema_evolution_merge",
    "set_distinct",
    "set_except",
    "set_except_all",
    "set_intersect",
    "set_intersect_all",
    "set_union_all",
    "sliding_window_30min",
    "sort_multi_key_limit",
    "sort_nulls_ordering",
    "sql_correlated_scalar_subquery",
    "sql_in_subquery",
    "stats_mad_exact",
    "stats_variance_exact",
    "stratified_sample_hash",
    "string_functions",
    "string_functions_2",
    "table_profile",
    "tfidf_top_terms",
    "theta_sketch_set_ops",
    "token_count",
    "train_test_split_hash",
    "union_by_name_missing",
    "unpivot_melt",
    "variant_props_analytics",
    "vector_norms",
    "window_first_last_nth",
    "window_lag_lead",
    "window_ntile_dist",
    "window_range_frame",
    "window_rank_dense",
    "window_running_sum",
])


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from evolution_spark.session import _host_size, get_spark

    cpus, _ = _host_size()
    spark = get_spark(app_name="evolution-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from evolution_spark.queries import QUERIES

    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # JVM warmup (codegen, parquet footers) outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # One warmup pass (absorbs one-time JIT of the generated plans), then
    # three timed passes over the WHOLE suite, per-query time = min of the
    # passes. The host carries unrelated background load (observed loadavg
    # spikes to ~10+ for minutes at a time), so consecutive samples of one
    # query share the same spike; samples minutes apart in separate passes
    # don't — the min across passes is the stable, comparable steady-state
    # figure. Three passes (was two) after the r02 FLF entries showed both
    # samples of a min-of-2 can land on spikes.
    samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    for name in BENCH_QUERIES:
        run_noop(QUERIES[name](spark, sf_dir))
    for _ in range(3):
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            run_noop(QUERIES[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    times: dict[str, float] = {n: round(min(s), 3) for n, s in samples.items()}

    # FLF conversion throughput: mock 1M rows -> FLF, then convert -> parquet
    from evolution_spark.converter import Converter
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import BENCH_FLF_SCHEMA_DICT, FixedSchema

    sch = FixedSchema.from_dict(BENCH_FLF_SCHEMA_DICT)
    tmp = tempfile.mkdtemp(prefix="evobench-")
    try:
        # Warmup at 1/10 size: absorbs the one-time codegen/JIT of the mock
        # and parse pipelines so the timed 1M-row run measures throughput.
        Mocker(sch, 100_000, f"{tmp}/warm.flf", seed=7).run(spark)
        Converter(f"{tmp}/warm.flf", sch, f"{tmp}/warm.parquet").run(spark)
        # min-of-3: single-JVM GC/compaction spikes can hit one rep for
        # multiple seconds; two samples occasionally both land on spikes
        # (observed: 0.6 s steady-state reps interleaved with a 3 s outlier),
        # three make the min a stable steady-state figure.
        mock_s, conv_s = [], []
        for i in range(3):
            t0 = time.perf_counter()
            Mocker(sch, 1_000_000, f"{tmp}/mock{i}.flf", seed=42).run(spark)
            mock_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            Converter(f"{tmp}/mock{i}.flf", sch, f"{tmp}/out{i}.parquet").run(spark)
            conv_s.append(time.perf_counter() - t0)
        times["flf_mock_1m"] = round(min(mock_s), 3)
        times["flf_convert_1m"] = round(min(conv_s), 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(times.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only a bounded tail of stdout; a one-line JSON
    # with 100+ per-query entries exceeds that buffer and the head (the
    # "metric" key) is cut off, leaving parsed:null (observed r04 AND r05).
    # So: print a SHORT final line the tail buffer always holds whole, and
    # write the full per-query map to a committed artifact next to this
    # script (override with $BENCH_FULL_OUT) for round-over-round diffing.
    # Default full-output name embeds the core count so a scaling run at a
    # different $SPARK_GRAFT_CPUS cannot clobber the main run's per-query
    # record (r15 lost its 32-core full data exactly this way).
    full_path = os.environ.get(
        "BENCH_FULL_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     f"BENCH_FULL_c{cpus}.json"),
    )
    full = {
        "metric": "headline_query_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
    }
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # never let artifact I/O kill the bench line
        sys.stderr.write(f"warn: could not write {full_path}: {e}\n")
    # Keep the "queries" key (driver contract) but only a fixed headline
    # subset so the line stays well under the tail buffer (~2 KB).
    headline = [
        "q1_pricing_summary", "q18_large_orders", "dedup_minhash_lsh",
        "knn_bruteforce_cosine", "asof_join_orders", "pagerank_order_graph",
        "triangle_count_copurchase", "winnow_fingerprints",
        "flf_mock_1m", "flf_convert_1m",
    ]
    line = json.dumps({
        "metric": "headline_query_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": {k: times[k] for k in headline if k in times},
        "sf": sf_val,
        "n_queries": len(times),
        "queries_full": os.path.basename(full_path),
    })
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
