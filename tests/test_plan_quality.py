"""Plan-quality assertions over the catalog queries themselves.

`.explain`-level proofs that the physical plans are the ones we'd want on
a 1000-executor cluster: filters reach the parquet scan (PushedFilters),
projection prunes the read schema, small dimensions broadcast, hash
aggregation runs partial+final, and the hot pipelines stay inside
WholeStageCodegen. These properties — not the sf0.1 timings — are what
carry to 100 TB.
"""

from __future__ import annotations

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = executed_plan(QUERIES["q_filter_predicate"](spark, SF_DIR))
    # the shipdate/discount/quantity predicates land in the parquet reader,
    # not a post-scan Filter over full rows
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan  # non-empty pushdown list


def test_column_pruning_in_read_schema(spark):
    # TPC-H Q1 touches 7 of lineitem's 16 columns; the scan must not read
    # the rest (l_comment is the widest — the classic pruning victim)
    plan = executed_plan(QUERIES["q_agg_sum_group"](spark, SF_DIR))
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in schema, schema
    assert "l_quantity" in schema, schema


def test_broadcast_join_is_chosen(spark):
    plan = executed_plan(QUERIES["q_join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # no shuffle of the big side for a broadcastable dim
    assert "SortMergeJoin" not in plan, plan


def test_flagship_partial_aggregation_and_codegen(spark):
    df = QUERIES["q_agg_sum_group"](spark, SF_DIR)
    plan = executed_plan(df)
    # partial (map-side) + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2, plan
    # under AQE codegen stages exist only in the *final* plan — execute,
    # then re-read the same QueryExecution
    df.collect()
    final = executed_plan(df)
    assert "isFinalPlan=true" in final, final
    # '*(n)' prefixes mark WholeStageCodegen stages in plan toString
    assert "*(" in final, final


def test_topk_uses_take_ordered(spark):
    # orderBy().limit(k) must compile to TakeOrderedAndProject (per-
    # partition top-k then merge), never a global sort
    plan = executed_plan(QUERIES["q_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_anti_joins_stay_semi(spark):
    # left_semi/left_anti must not degrade to inner join + distinct
    plan = _optimized(QUERIES["q_join_semi_anti"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_shuffle_hash_hint_avoids_sort(spark):
    # for a large-large join where one side still fits a per-task hash map,
    # SHUFFLE_HASH skips both sort passes of SMJ; assert the hint is honored
    from aws_vpcflowlogs_parquet_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    joined = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    plan = executed_plan(joined)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_session_posture_aqe_on(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true") == "true"


def test_tfidf_broadcasts_scalar_and_stays_jvm(spark):
    # the corpus-size scalar must broadcast (never shuffle the tf table
    # against a 1-row frame) and the whole pipeline stays UDF-free
    plan = executed_plan(QUERIES["q_tfidf"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_ann_multiprobe_broadcasts_probes(spark):
    # both centroid scoring and candidate probing are broadcast joins:
    # the corpus is scanned, never shuffled
    plan = executed_plan(QUERIES["q_ann_ivf_multiprobe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_not_in_plans_null_aware_anti_join(spark):
    plan = executed_plan(QUERIES["q_not_in_null_aware"](spark, SF_DIR))
    # NOT IN must survive as a null-aware anti join (trailing flag `true`
    # on the BroadcastHashJoin), not get rewritten to the plain LeftAnti
    # that would return wrong rows when the probe set contains NULL
    assert "LeftAnti, BuildRight, true" in plan, plan
    assert "LeftSemi" in plan, plan  # the IN variant stays a semi join


def test_cdc_merge_is_single_full_outer_shuffle(spark):
    plan = executed_plan(QUERIES["q_cdc_merge"](spark, SF_DIR))
    # MERGE = exactly one full-outer join on the merge key; the op-code
    # predicates push into the parquet scans of the change legs
    assert plan.count("FullOuter") == 1, plan
    assert "PushedFilters: [" in plan, plan


def test_sketch_kmv_broadcasts_exact_side(spark):
    plan = executed_plan(QUERIES["q_sketch_kmv"](spark, SF_DIR))
    # the 5-row exact-count side joins by broadcast — no shuffle added to
    # the sketch side beyond its own distinct + window partitioning
    assert "BroadcastHashJoin" in plan, plan


def test_chunk_windows_has_no_exchange(spark):
    plan = executed_plan(QUERIES["q_chunk_windows"](spark, SF_DIR))
    # chunk fan-out is sequence->explode->slice inside the scan pipeline;
    # a shuffle here would mean the operator doesn't scale with input
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_contamination_broadcasts_probe_set(spark):
    plan = executed_plan(QUERIES["q_contamination"](spark, SF_DIR))
    # the benchmark shingle set joins by broadcast; the corpus-side
    # shingles must not shuffle for the overlap check
    assert "BroadcastHashJoin" in plan, plan


def test_flowlog_top_talkers_uses_take_ordered(spark):
    plan = executed_plan(QUERIES["q_flowlog_top_talkers"](spark, SF_DIR))
    # top-10 must be TakeOrderedAndProject (per-partition heaps + merge),
    # never a global sort followed by limit
    assert "TakeOrderedAndProject" in plan, plan


def test_gap_fill_grid_joins_broadcast(spark):
    plan = executed_plan(QUERIES["q_gap_fill"](spark, SF_DIR))
    # the (type x hour) spine grid is tiny at any scale; both grid joins
    # must broadcast rather than shuffle the event counts
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_per_group_gets_window_group_limit(spark):
    # rank<=k predicates over ranking windows must trigger Spark's
    # WindowGroupLimit rewrite: per-partition k-row heaps ahead of the
    # shuffle instead of ranking every row then filtering — the difference
    # between shuffling k rows/group and shuffling the corpus
    for name in ("q_tfidf", "q_window_rank"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "WindowGroupLimit" in plan, (name, plan)


def test_winsorize_and_zscore_broadcast_stats(spark):
    # per-group stats tables are rows = distinct groups; the fact-side
    # scoring join must broadcast them, never shuffle the fact table
    for name in ("q_winsorize", "q_anomaly_zscore"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_ranked_feeds_use_take_ordered(spark):
    # top-k feeds (port scan, vocab table, collocations) must compile to
    # TakeOrderedAndProject — per-partition heaps, no global sort
    for name in ("q_port_scan", "q_tokenize_regex", "q_cooccurrence_lift"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, (name, plan)


def test_per_group_topk_gets_window_group_limit(spark):
    # rank()<=k shapes in the new ops must hit the WindowGroupLimit
    # rewrite: k rows per group survive each partition before the shuffle
    plan = executed_plan(QUERIES["q_balanced_sample"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan


def test_decile_approx_windows_only_the_histogram(spark):
    # the scale-safe decile bucketing must never sort the fact table: the
    # only Window in the plan runs over the bucket histogram (its input
    # columns exist only post-aggregation), and the bin→decile map joins
    # back by broadcast
    plan = executed_plan(QUERIES["q_decile_stats_approx"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "ntile" not in plan, plan
    assert "Window [sum(n_b" in plan, plan  # window input is the histogram
    assert "SortMergeJoin" not in plan, plan


def test_bloom_join_prefilters_before_broadcast_join(spark):
    # the bloom probe must be an expression test against the broadcast
    # one-row bitmap (Catalyst folds it into the BroadcastNestedLoopJoin
    # condition: bit shift + mask, rendered '>> … & 1'), upstream of the
    # member broadcast join — never a shuffle join
    plan = executed_plan(QUERIES["q_bloom_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "& 1) = 1" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sketch_queries_broadcast_and_stay_jvm(spark):
    # sketch tables (1536-cell CMS, 16-register HLL) are constants at any
    # scale: they must broadcast, and the whole pipeline is codegen'd
    # expressions — no Python evaluation anywhere
    for name in ("q_cms_heavy_hitters", "q_sketch_hll"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)


def test_new_ranked_feeds_use_take_ordered(spark):
    for name in ("q_seq_bigrams", "q_cms_heavy_hitters", "q_event_rate_alert"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, (name, plan)


def test_group_quartiles_has_no_single_partition_exchange(spark):
    # the per-group histogram quartiles are the FULLY distributed
    # approx-percentile form: every window is partitioned by group, so
    # nothing in the plan may funnel through one partition
    plan = executed_plan(QUERIES["q_group_quartiles_approx"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan
    assert "ntile" not in plan, plan


def test_event_rate_alert_windows_preaggregated_counts(spark):
    # the trailing-baseline window must consume per-minute counts (its
    # input columns exist only post-aggregation), never raw events
    plan = executed_plan(QUERIES["q_event_rate_alert"](spark, SF_DIR))
    assert "Window [count(1)" in plan or "Window [sum(n" in plan, plan


def test_keep_best_is_aggregate_argmax(spark):
    # canonical selection must be a partial+final max_by aggregate (one
    # candidate per cluster per task crosses the shuffle) — not a
    # row_number window, which would materialize and rank every cluster
    # member post-shuffle
    plan = executed_plan(QUERIES["q_dedup_keep_best"](spark, SF_DIR))
    assert "partial_max_by" in plan, plan
    assert "row_number" not in plan, plan


def test_incremental_dedup_antijoin_on_hash(spark):
    plan = _optimized(QUERIES["q_incremental_dedup"](spark, SF_DIR))
    # the anti join must stay an anti join (not rewritten through a
    # distinct+outer shape) and join on the 16-byte md5, never the text
    assert "LeftAnti" in plan, plan
    assert "md5" in plan, plan


def test_split_assign_and_gate_are_single_agg_scans(spark):
    # pure per-row expressions + one aggregation: exactly one shuffle
    # (the groupBy), nothing else
    for name in ("q_split_assign", "q_filter_gate"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, (name, n_exchanges, plan)
        assert "BatchEvalPython" not in plan, (name, plan)


def test_round3_stats_broadcast_and_stay_jvm(spark):
    # entropy/mixture/MAD join tiny per-group scalar tables back to
    # cell- or row-level data: those joins must broadcast (never SMJ) and
    # the whole pipeline is built-in expressions — no Python evaluation.
    # q_chi2_assoc left this list in r13: its totals are now window sums
    # over the contingency cells, so it has NO join at all (pinned below).
    for name in ("q_entropy", "q_dataset_mixture", "q_anomaly_mad"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        # keyed joins → BroadcastHashJoin; the one-row scalar cross join
        # in q_dataset_mixture → BroadcastNestedLoopJoin
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            name, plan,
        )
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)


def test_chi2_totals_are_windows_over_cells(spark):
    # r13: row/col/grand totals are window sums over the R×C contingency
    # cells — no join of re-aggregated totals back to the cells, one
    # parquet scan, and the windowed relation is the domain-bounded cell
    # table (never the events), so no SMJ and no Python either
    plan = executed_plan(QUERIES["q_chi2_assoc"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "Join" not in plan, plan  # no broadcast/SMJ/BNLJ at all
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_rollup_hierarchy_single_scan(spark):
    # the three tiers must reuse partials from ONE events scan — a second
    # FileScan would mean a tier recomputed from raw data
    plan = executed_plan(QUERIES["q_rollup_hierarchy"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan


def test_subnet_rollup_is_one_expand_one_shuffle(spark):
    # both prefix granularities ride one Expand + one hash shuffle
    plan = executed_plan(QUERIES["q_subnet_rollup"](spark, SF_DIR))
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_markov_window_runs_over_cells(spark):
    # the row-normalizing window consumes pre-aggregated transition cells
    # (sum over n), never the raw event stream
    plan = executed_plan(QUERIES["q_markov_transitions"](spark, SF_DIR))
    assert "Window [sum(n" in plan, plan


def test_nearest_join_is_one_union_one_shuffle(spark):
    # both direction carries share one sorted shuffle on user_id — the
    # whole point of the union+carry pattern vs a range join
    plan = executed_plan(QUERIES["q_nearest_event_join"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_pagerank_plan_depth_is_constant_in_iterations(spark):
    # localCheckpoint per round must truncate lineage: the returned plan
    # starts from the materialized final round (a scan of checkpointed
    # rows), not a 3-round join chain re-deriving everything
    from aws_vpcflowlogs_parquet_spark.operators.graph import pagerank

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from pyspark.sql import functions as F

    e = (
        ev.select(
            (F.col("user_id") % 64).alias("src"),
            ((F.col("user_id") + F.col("event_id")) % 64).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    plan = _optimized(pagerank(e))
    assert "Join" not in plan, plan
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    # the k-centroid fan-out must broadcast (centroids are tiny by
    # construction) and the argmin must be a partial+final min_by
    # aggregate — one candidate per vector per task crosses the shuffle
    plan = executed_plan(QUERIES["q_kmeans_step"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "partial_min_by" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_zorder_topk_uses_take_ordered(spark):
    plan = executed_plan(QUERIES["q_zorder_cells"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_skyline_window_is_partitioned(spark):
    # the sort-scan skyline window partitions by segment — nothing in the
    # plan may funnel the fact table through one partition
    plan = executed_plan(QUERIES["q_skyline"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cumulative_distinct_window_over_days(spark):
    # the running sum must consume the per-day aggregate (days-sized),
    # never a per-event stream: its input column n_new exists only
    # post-aggregation
    plan = executed_plan(QUERIES["q_cumulative_distinct"](spark, SF_DIR))
    assert "Window [sum(n_new" in plan, plan


def test_tpch_plans_broadcast_and_take_ordered(spark):
    # the benchmark shapes must get the planner's best: filtered dims
    # broadcast, top-k limits compile to TakeOrderedAndProject, and date
    # predicates reach the parquet readers
    for name in ("q_tpch_q3", "q_tpch_q10"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "PushedFilters: [" in plan, (name, plan)
    plan = executed_plan(QUERIES["q_tpch_q5"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_pii_scrub_is_single_agg_scan(spark):
    # scrub + audit must stay one scan + one aggregation shuffle, all
    # JVM expressions
    plan = executed_plan(QUERIES["q_pii_scrub"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_corpus_build_pushes_gate_into_scan(spark):
    # the n_chars floor must reach the parquet reader so gated-out docs
    # are never materialized
    plan = executed_plan(QUERIES["q_corpus_build"](spark, SF_DIR))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed, plan


def test_nested_rebuild_is_one_shuffle_no_explode(spark):
    # the nested pipeline must ride the one groupBy shuffle; an explode
    # round-trip would add a Generate + second aggregation
    plan = executed_plan(QUERIES["q_nested_rebuild"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Generate explode" not in plan, plan


def test_table_profile_single_scan(spark):
    # five per-column profiles must come from ONE pass (multi-distinct
    # Expand), not a scan per column
    plan = executed_plan(QUERIES["q_table_profile"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_histogram_merge_windows_over_bins(spark):
    # the cumulative window consumes merged bins, never orders
    plan = executed_plan(QUERIES["q_histogram_merge"](spark, SF_DIR))
    assert "Window [sum(n" in plan, plan


def test_attribution_fanout_is_broadcast(spark):
    # the 8-row day-offset table must broadcast into the fan-out; the
    # touch pairing stays a hash equi-join (no range-join explosion)
    plan = executed_plan(QUERIES["q_attribution"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("SortMergeJoin") == 0, plan


def test_sql_udf_inlines_no_python(spark):
    # CREATE FUNCTION ... RETURN expr must substitute into the plan as
    # pure expressions — no Python evaluation operator anywhere
    plan = executed_plan(QUERIES["q_sql_udf"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_range_join_bucketed_is_hash_join(spark):
    # the interval pairing must execute as an equi-join on the bucket id
    # (+ refine filter), never a nested-loop/cartesian range join
    plan = executed_plan(QUERIES["q_range_join_bucketed"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan


def test_expectations_single_scan_single_agg(spark):
    # N data-quality rules must audit in ONE scan + one aggregation
    plan = executed_plan(QUERIES["q_expectations"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_profile_sketch_single_scan_fixed_state(spark):
    # the sketch profiler must keep one scan and carry only register
    # partials across its exchange (no Expand — that's the exact form)
    plan = executed_plan(QUERIES["q_table_profile_sketch"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan


def test_ewma_window_over_buckets(spark):
    # the 8-tap lag window consumes pre-aggregated buckets, not events
    plan = executed_plan(QUERIES["q_ewma"](spark, SF_DIR))
    assert "Window [lag(n" in plan, plan


def test_gaps_islands_windows_share_one_shuffle(spark):
    # lag + running-sum chain on the same user_id partitioning: exactly
    # one exchange feeds both window steps (before the final rollups)
    plan = executed_plan(QUERIES["q_gaps_islands"](spark, SF_DIR))
    upstream = plan.split("Window", 1)[-1]  # everything below first Window
    assert upstream.count("Exchange hashpartitioning") == 1, plan


def test_pq_search_broadcasts_and_window_limits(spark):
    # the distance table broadcasts (queries x 16 cells at any scale)
    # and the per-query top-3 must hit the WindowGroupLimit rewrite
    plan = executed_plan(QUERIES["q_ann_pq_search"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tpch_q6_pushes_all_predicates_and_prunes(spark):
    # zero-join Q6: all three value predicates reach the parquet reader
    # and the scan reads exactly the 4 referenced columns
    plan = executed_plan(QUERIES["q_tpch_q6"](spark, SF_DIR))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert schema.count(":") == 4, schema  # 4 columns only


def test_tpch_q9_joins_all_broadcast(spark):
    # the 5-way snowflake: every dimension leg (part LIKE-filtered,
    # supplier, orders, nation) broadcasts — no sort-merge exchange of
    # the fact table at this dim/fact ratio
    plan = executed_plan(QUERIES["q_tpch_q9"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_tpch_q4_exists_decorrelates_to_semi_join(spark):
    # the non-equi correlated EXISTS must become a (broadcast) left-semi
    # join, never a per-row subquery
    plan = executed_plan(QUERIES["q_tpch_q4"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_tpch_q16_and_q22_plan_anti_joins(spark):
    for q in ("q_tpch_q16", "q_tpch_q22"):
        plan = executed_plan(QUERIES[q](spark, SF_DIR))
        assert "Anti" in plan, (q, plan)


def test_tpch_q15_single_fact_scan(spark):
    # the revenue CTE is consumed twice semantically (join input + its
    # own MAX); the window-max form must cost exactly ONE lineitem scan
    # (+ the supplier dim) — a scalar subquery would scan lineitem twice
    plan = executed_plan(QUERIES["q_tpch_q15"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 2, plan
    assert "Window" in plan, plan


def test_embedding_qc_single_scan_one_exchange(spark):
    # per-row array HOF probes + one partial/final hash agg pair: a
    # single parquet scan and exactly one shuffle of |labels| partials
    plan = executed_plan(QUERIES["q_embedding_qc"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side combine


def test_shard_assign_shuffles_on_shard_key(spark):
    # the layout query's one data shuffle is the shard repartition; the
    # rollup rides the same partitioning (partial/final agg pair)
    plan = executed_plan(QUERIES["q_shard_assign"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert "hashpartitioning(shard" in plan, plan


def test_vocab_coverage_broadcasts_vocab(spark):
    # the top-V vocabulary is V rows: it must ride a broadcast join,
    # and the top-V itself is a TakeOrdered, not a global sort
    plan = executed_plan(QUERIES["q_vocab_coverage"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_doc_stopwords_topk_is_take_ordered(spark):
    plan = executed_plan(QUERIES["q_doc_stopwords"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_unigram_surprisal_all_hash_aggs_no_window(spark):
    # the perplexity proxy is pure hash aggregation: no window exec, no
    # sort of corpus-scale data; the frequency join rides the shared
    # persisted explode
    plan = executed_plan(QUERIES["q_unigram_surprisal"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial/final pairs


def test_source_drift_grid_is_broadcast(spark):
    # the |sources| x V grid completion and the scalar join must ride
    # broadcasts — no shuffle of the tiny side
    plan = executed_plan(QUERIES["q_source_drift"](spark, SF_DIR))
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-V, not global sort


def test_judge_kappa_scans_corpus_once(spark):
    # the confusion cells feed three consumers (marginals + totals);
    # they must ride one persisted <=|langs|^2-row aggregate, so every
    # downstream path reads InMemoryTableScan and the corpus-scale
    # lang-id scoring runs once (the FileScan text repeats inside each
    # cached-relation description, but execution materializes it once)
    plan = executed_plan(QUERIES["q_judge_kappa"](spark, SF_DIR))
    assert plan.count("InMemoryTableScan") == 3, plan


def test_bm25_filters_postings_before_tf_agg(spark):
    # the token predicate must reach the scan side of the tf agg (the
    # posting explode is filtered, not the whole corpus aggregated) and
    # the top-10 must be a TakeOrdered, not a global sort
    plan = executed_plan(QUERIES["q_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_graph_2hop_all_equi_joins(spark):
    plan = executed_plan(QUERIES["q_graph_2hop"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_novelty_shuffles_on_shingle_only(spark):
    # the first-introduction marker is a min() window keyed on the
    # shingle — the same key class the prefix-filter frequency table
    # pays; no Python, no cartesian
    plan = executed_plan(QUERIES["q_ngram_novelty"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "hashpartitioning(s" in plan, plan


def test_token_budget_heavy_agg_then_tiny_frames(spark):
    # the only corpus-scale work is the per-source token count (partial/
    # final pair); the waterfill runs on an n_sources-row frame whose
    # scalar joins broadcast
    plan = executed_plan(QUERIES["q_token_budget"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_label_noise_broadcasts_queries(spark):
    # the sampled query set broadcasts; the corpus is scanned, never
    # shuffled, for the n*q comparison kernel
    plan = executed_plan(QUERIES["q_label_noise"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
