"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The catalog lives in aws_vpcflowlogs_parquet_spark/plans/catalog.py; every
query has a DuckDB oracle (no rows-only entries).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aws_vpcflowlogs_parquet_spark.plans.catalog import ORACLES, QUERIES, flagship

# Queries already driver-verified green (rows+schema+hash) in a previous
# round's CORRECTNESS_r{N}.json. The driver checks queries in registration
# order with a per-round cap, so not-yet-verified queries are listed FIRST
# to maximize cumulative verified coverage across rounds.
#
# NOTE: q_embed_dup is deliberately ABSENT — its blocking key, output
# schema, and oracle changed in round 2 AFTER its round-1 green, so the
# prior verification no longer applies and it must re-verify (ADVICE.md r2).
# q_join_bucketed is likewise absent: round 3 moved its layout write to a
# once-per-session ensure_bucketed (same semantics, new code path).
# Any query whose implementation or oracle changes in a round must be
# dropped from this set in the same commit.
_VERIFIED_PRIOR_ROUNDS = frozenset({
    # round 1 (CORRECTNESS_r01.json): 50/50 pass (minus the re-verify set above)
    "q_parse_project", "q_flowlog_parse", "q_filter_predicate",
    "q_distinct_partitions", "q_agg_sum_group", "q_agg_rollup", "q_topk",
    "q_join_inner", "q_join_broadcast", "q_join_semi_anti", "q_join_multiway",
    "q_join_salted", "q_window_rank", "q_window_running",
    "q_set_ops", "q_scalar_funcs", "q_date_funcs", "q_time_bucket",
    "q_time_bucket_sliding", "q_session_dedup", "q_pivot", "q_agg_cube",
    "q_percentiles", "q_asof_join", "q_sessionize", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram",
    "q_similarity_topk", "q_ann_lsh", "q_lang_id",
    "q_token_count", "q_tfidf", "q_chunk_windows", "q_contamination",
    "q_repetition", "q_quality_score", "q_fingerprint", "q_multimodal_meta",
    "q_frame_sample", "q_join_outer",
    "q_join_full_outer", "q_range_join", "q_correlated_avg",
    "q_window_lead_lag", "q_window_moving",
    # round 2 (CORRECTNESS_r02.json): 50/50 pass
    "q_grouping_sets", "q_count_distinct", "q_sketch_kmv", "q_argmax",
    "q_stats_moments", "q_histogram", "q_conditional_agg", "q_array_agg",
    "q_array_funcs", "q_explode_wordcount", "q_not_in_null_aware",
    "q_subquery_in", "q_exists_subquery", "q_lateral_join",
    "q_null_semantics", "q_dedup_clusters", "q_json_funcs",
    "q_window_distribution", "q_unpivot", "q_ann_ivf",
    "q_ann_ivf_multiprobe", "q_map_funcs", "q_bitwise",
    "q_string_advanced", "q_sample_hash", "q_sample_stratified",
    "q_cdc_merge", "q_ngram_counts", "q_grouped_pandas", "q_udtf_rle",
    "q_json_typed", "q_percent_of_total", "q_funnel", "q_bloom_filter",
    "q_struct_funcs", "q_higher_order", "q_map_in_arrow", "q_trimmed_mean",
    "q_flowlog_top_talkers", "q_flowlog_reject_ratio",
    "q_cidr_enrich", "q_gap_fill", "q_window_fill", "q_stream_sessionize",
    "q_stream_dedup", "q_stream_time_bucket", "q_stream_sliding",
    "q_stream_static_join", "q_stream_stream_join",
    # round 3 (CORRECTNESS_r03.json): 48/50 pass (q_filter_gate and
    # q_group_quartiles_approx hash-FAILED and stay out until re-verified;
    # their oracles were hardened in round 4 — see catalog.py).
    "q_join_bucketed", "q_embed_dup", "q_stream_stateful",
    "q_window_range_frame", "q_split_assign", "q_class_balance",
    "q_incremental_dedup", "q_decile_stats", "q_decile_stats_approx",
    "q_regex_extract", "q_winsorize", "q_port_scan", "q_beaconing",
    "q_tokenize_regex", "q_cooccurrence_lift", "q_anomaly_zscore",
    "q_time_weighted_avg", "q_join_null_safe", "q_dedup_keep_best",
    "q_autocorr", "q_containment", "q_dataset_card", "q_balanced_sample",
    "q_interval_overlap", "q_window_nth", "q_pack_sequences", "q_pagerank",
    "q_bloom_join", "q_sketch_hll", "q_cms_heavy_hitters",
    "q_label_propagation", "q_cohort_retention",
    "q_seq_bigrams", "q_fuzzy_join", "q_event_rate_alert", "q_entropy",
    "q_markov_transitions", "q_weighted_median", "q_chi2_assoc",
    "q_rollup_hierarchy", "q_sketch_hll_merge", "q_anomaly_mad",
    "q_dataset_mixture", "q_subnet_rollup", "q_nearest_event_join",
    "q_minhash_est_error", "q_kmeans_step",
    # round 4 (CORRECTNESS_r04.json): 47/50 pass.
    "q_ab_test", "q_ann_pq_search", "q_attribution", "q_audio_energy",
    "q_benford", "q_clamped_balance", "q_corpus_build",
    "q_cumulative_distinct", "q_degree_stats", "q_ewma", "q_expectations",
    "q_gaps_islands", "q_histogram_merge", "q_kmv_intersection",
    "q_nested_rebuild", "q_pii_scrub", "q_pq_encode",
    "q_range_join_bucketed", "q_recursive_bfs", "q_rfm", "q_scd2",
    "q_seasonal_baseline", "q_skyline", "q_sql_udf", "q_stream_hll",
    "q_table_profile", "q_table_profile_sketch", "q_tpch_q1",
    "q_tpch_q10", "q_tpch_q11", "q_tpch_q13", "q_tpch_q14", "q_tpch_q15",
    "q_tpch_q16", "q_tpch_q17", "q_tpch_q18", "q_tpch_q19", "q_tpch_q22",
    "q_tpch_q3", "q_tpch_q4", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7",
    "q_tpch_q8", "q_tpch_q9", "q_trending", "q_zorder_cells",
    # round 5 (CORRECTNESS_r05.json): 49/50 pass — the only red row was
    # the DELIBERATE q_probe_sum_bare diagnostic (bare integer SUM →
    # DuckDB HUGEINT), which confirmed the r3/r4 hash-divergence
    # mechanism and retired the whole probe family in round 6. The 3
    # lattice-hardened re-verifies and all 24 promoted staging queries
    # went green.
    "q_filter_gate", "q_group_quartiles_approx", "q_tpch_q12",
    "q_tpch_q2", "q_tpch_q20", "q_tpch_q21", "q_changepoint_cusum",
    "q_vocab_growth", "q_burstiness", "q_conversion_lag",
    "q_segment_overlap", "q_gini", "q_sax_symbolize",
    # q_kcore dropped r12: its peel loop gained the convergence probe
    # (identical results, oracle re-PASSed sf0.001+sf0.01) — changed
    # implementation ⇒ driver re-verifies per the rule above
    "q_lorenz_curve", "q_top_paths",
    "q_pop_change", "q_percentile_disc", "q_mode", "q_rolling_active",
    "q_theilsen", "q_rolling_hll", "q_window_funnel", "q_eval_confusion",
    # round 6 (CORRECTNESS_r06.json): 50/50 pass — the 43 new round-6
    # queries (all green, rows+schema+hash) plus 7 standing re-checks
    # already listed above.
    "q_ngram_novelty", "q_shard_assign", "q_embedding_qc",
    "q_token_budget", "q_vocab_coverage", "q_doc_stopwords",
    "q_unigram_surprisal", "q_source_drift", "q_judge_kappa",
    "q_bm25_topk", "q_graph_2hop", "q_label_noise", "q_rank_sum",
    "q_ks_drift", "q_tv_distance", "q_hhi_concentration",
    "q_target_encode", "q_trend_ols", "q_ohlc_bars", "q_abc_pareto",
    "q_bitmap_rollup", "q_node_jaccard", "q_intradoc_dedup",
    "q_cross_corr", "q_ref_integrity", "q_itemcf", "q_cep_pattern",
    "q_calibration", "q_bpe_merge", "q_ngram_lm", "q_inverted_index",
    "q_event_precedence", "q_simpson_diversity", "q_zipf_check",
    "q_assortativity", "q_reciprocity", "q_key_skew", "q_join_card_est",
    "q_slo_burn", "q_elasticity", "q_hazard_rate", "q_source_similarity",
    "q_dispersion",
    # round 7 (CORRECTNESS_r07.json): 50/50 pass — the 13 round-6-staged
    # promotions, 3 bucketed twins, and 21+13 new round-7 mechanisms
    # (all green, rows+schema+hash).
    "q_resource_alloc", "q_rolling_regression", "q_conversion_curve",
    "q_negative_sampling", "q_weighted_jaccard", "q_snapshot_diff",
    "q_lag_features", "q_calendar_dim", "q_stream_cep", "q_dim_stats",
    "q_pit_audit", "q_compaction_plan", "q_tokenizer_fertility",
    "q_gini_bucketed", "q_lorenz_bucketed", "q_abc_pareto_bucketed",
    "q_embedding_covariance", "q_bootstrap_ci", "q_weighted_sample",
    "q_scc", "q_bpe_train", "q_pruning_stats", "q_stream_join_outer",
    "q_auc", "q_critical_path", "q_misra_gries", "q_isotonic_pav",
    "q_apriori_pairs", "q_stream_join_full_outer", "q_decision_stump",
    "q_quantile_bisect", "q_viterbi", "q_ivm_delta",
    "q_semijoin_reduction", "q_bom_explosion", "q_normal_equations",
    "q_rank_overlap",
    # round 8 (CORRECTNESS_r08.json): 50/50 pass — the 13 new round-8
    # mechanisms (below) plus the 19 changed-code re-verifications
    # (streaming harness rework, rank-kernel twins, wedge consumers —
    # already listed above) and 18 routine re-checks.
    "q_recursive_cte", "q_variant_extract", "q_state_introspect",
    "q_kaplan_meier", "q_hits", "q_analyze_stats", "q_dbscan_grid",
    "q_collation_group", "q_pipe_syntax", "q_interval_coverage",
    "q_spatial_grid_join", "q_sql_scripting", "q_runs_test",
    # round 9 (CORRECTNESS_r09.json): 50/50 pass — the 20 new round-9
    # mechanisms (below), the q_flowlog_parse re-verification forced by
    # the parser's new arity conjunct (listed in round 1 above), and 29
    # routine re-checks.
    "q_mst_boruvka", "q_spearman", "q_kendall_tau", "q_ams_f2",
    "q_parity_bipartite", "q_shoelace_area", "q_transitive_reduction",
    "q_kadane_max_subarray", "q_rain_water", "q_fd_check",
    "q_haar_wavelet", "q_multiset_ops", "q_fifo_costing", "q_waterfill",
    "q_k_anonymity", "q_union_area_rects", "q_bitemporal_asof",
    "q_late_arriving_dim", "q_postings_compression", "q_holt_smoothing",
    # round 10 (CORRECTNESS_r10.json): 50/50 pass — the 48 new round-10
    # mechanisms (below) plus the q_parse_project / q_flowlog_parse
    # routine re-checks (already listed in round 1 above).
    "q_stream_topk", "q_stream_late_dedup", "q_stream_late_data",
    "q_scd2_replay", "q_event_debounce", "q_max_concurrency",
    "q_interval_scheduling", "q_temporal_sum_timeline",
    "q_largest_remainder", "q_dhondt", "q_l_diversity",
    "q_partition_digest", "q_knn_reciprocity", "q_anova_f", "q_wilson_ci",
    "q_mcnemar", "q_benjamini_hochberg", "q_rolling_median",
    "q_ip_lpm_route", "q_lift_deciles", "q_percentile_interp",
    "q_consistent_hashing", "q_latency_histogram", "q_ledger_replay",
    "q_holt_winters", "q_queue_replay", "q_token_bucket", "q_ab_cuped",
    "q_winnowing", "q_sssp_bellman_ford", "q_sparse_matmul",
    "q_cidr_merge", "q_quantile_normalization", "q_drawdown",
    "q_url_canonicalize", "q_grid_stencil", "q_bin_packing_nextfit",
    "q_bollinger", "q_tree_lca", "q_unicode_nfc", "q_luhn_check",
    "q_knapsack_greedy", "q_sma_crossover", "q_phonetic_blocking",
    "q_stream_ohlc", "q_ema_crossover", "q_table_checksum",
    "q_crdt_gcounter",
    # round 11 (CORRECTNESS_r11.json): 50/50 pass — the 27 round-10-staged
    # promotions, the 18 new round-11 mechanisms, and 5 routine re-checks
    # (already listed in round 1 above).
    "q_group_lcp", "q_histogram_equalize", "q_ratio_delta_method",
    "q_h_index", "q_linear_interpolate", "q_csv_sniff", "q_outlier_iqr",
    "q_readability", "q_forecast_backtest", "q_ua_parse",
    "q_er_score", "q_flow_stitch", "q_feature_hash_audit",
    "q_revenue_recognition", "q_diff_in_diff", "q_grid_hotspot",
    "q_reconciliation", "q_sampling_temperature", "q_span_f1",
    "q_encoding_advisor", "q_merkle_levels", "q_mix_rate_decomposition",
    "q_t_closeness", "q_conformal_interval", "q_apdex", "q_backfill_plan",
    "q_quantile_sketch_merge", "q_interval_difference", "q_bandit_ucb",
    "q_js_divergence", "q_log_templates", "q_integral_image",
    "q_sliding_rate_limit", "q_salt_plan", "q_stream_absence",
    "q_prefix_free_check", "q_knn_classify", "q_chao1_ndv",
    "q_psi_stability", "q_capture_recapture", "q_sketch_rank_error",
    "q_l_moments", "q_sequential_probe",
    # round 13 (CORRECTNESS_r13.json, the same 50 greens as r12): four of
    # them, whose builders and oracles are unchanged since, keep the
    # pending count at 50 after the re-verifies below.
    "q_jarque_bera", "q_cochran_q", "q_join_order_plan", "q_business_days",
    # Re-verify: the shingle-hash guard changed the dedup core behind
    # q_dedup_prefix_filter, q_lsh_recall, q_near_dup_rate and
    # q_dedup_threshold_sweep; q_multimodal_resize runs the one image
    # header parser; q_pandas_udaf's UDAFs are type-hinted.
    # Re-verify: q_triangle_count's oracle reads the fixture graph from
    # _duck_edges (LEAST/GREATEST spelled upper-case); q_modularity's
    # builder and oracle read undirected_edges and _duck_edges.
})


def _unverified_first(d: dict) -> dict:
    pending = {k: v for k, v in d.items() if k not in _VERIFIED_PRIOR_ROUNDS}
    done = {k: v for k, v in d.items() if k in _VERIFIED_PRIOR_ROUNDS}
    return {**pending, **done}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _unverified_first(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every query in ``queries()``."""
    return _unverified_first(dict(ORACLES))
