"""Plan-shape pins for the round-6 batch-4/5 queries: `.explain`-level
proof that each compiles to the physical strategy its docstring claims
for the 100 TB posture — broadcast joins where a side is bounded, no
cartesian products, no Python eval in any hot path, map-side-combinable
hash aggregation (partial/final pairs), and windows sharing exchanges
with the aggregations they follow."""

from __future__ import annotations

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan, no_python


def test_bitmap_rollup_two_hash_aggs_no_window(spark):
    # both rollup levels are OR-combinable hash aggs (8-byte state);
    # partial/final pairs, no window, no join
    plan = executed_plan(QUERIES["q_bitmap_rollup"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4, plan  # 2 levels x partial/final
    assert "Window" not in plan and "Join" not in plan, plan
    assert no_python(plan), plan


def test_node_jaccard_equi_joins_broadcast_degrees(spark):
    # wedge + anti + degree joins are all equi-keyed; degree frames
    # broadcast; the top-20 is a TakeOrdered, not a global sort
    plan = executed_plan(QUERIES["q_node_jaccard"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ohlc_bars_windows_and_agg_share_bar_key(spark):
    # open/close rank windows and the OHLC agg all key on the bar; one
    # exchange family, no join
    plan = executed_plan(QUERIES["q_ohlc_bars"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert no_python(plan), plan


def test_abc_pareto_window_runs_over_aggregate(spark):
    # the cumulative window sorts the per-part aggregate (|parts| rows),
    # never raw lineitem; class totals broadcast
    plan = executed_plan(QUERIES["q_abc_pareto"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # plans print root-first: a HashAggregate BELOW the window (printed
    # after it) proves the window consumes aggregated rows, not raw scan
    assert plan.index("Window") < plan.rindex("HashAggregate"), plan


def test_cross_corr_lag_join_broadcasts_aggregate(spark):
    # the 4-lag pairing joins two derivations of the hourly AGGREGATE
    # (|hours| rows) — broadcast, never a sort-merge over raw events
    plan = executed_plan(QUERIES["q_cross_corr"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ref_integrity_no_cartesian_no_python(spark):
    plan = executed_plan(QUERIES["q_ref_integrity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert no_python(plan), plan


def test_itemcf_broadcasts_frequencies(spark):
    # the within-basket self-join is equi-keyed on the order; both item
    # frequency joins broadcast; top-15 is a TakeOrdered
    plan = executed_plan(QUERIES["q_itemcf"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cep_pattern_single_window_no_join(spark):
    # the lag/lead chain compiles to ONE window operator over one
    # (user) exchange — the whole pattern is a sequential partition scan
    plan = executed_plan(QUERIES["q_cep_pattern"](spark, SF_DIR))
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan
    assert no_python(plan), plan


def test_calibration_single_scan_one_agg_pair(spark):
    plan = executed_plan(QUERIES["q_calibration"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final
    assert "Join" not in plan and "Window" not in plan, plan


def test_bpe_merge_two_agg_levels_no_python(spark):
    # corpus -> token-type agg -> pair agg; the substring fan-out is a
    # codegen'd generator, not Python
    plan = executed_plan(QUERIES["q_bpe_merge"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4, plan
    assert no_python(plan), plan
    assert "Join" not in plan, plan


def test_inverted_index_gap_window_shares_token_key(spark):
    # the posting agg and the gap window both key on the token: the
    # window must not introduce a second corpus-scale exchange class
    plan = executed_plan(QUERIES["q_inverted_index"](spark, SF_DIR))
    assert "hashpartitioning(tok" in plan, plan
    assert no_python(plan), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_event_precedence_band_join_is_bucket_keyed(spark):
    # the 1-hour band self-join must key on (user, epoch-hour bucket) —
    # per-task work bounded by per-user-per-2h density, not the user's
    # full history — with the exact band as a post-join filter
    plan = executed_plan(QUERIES["q_event_precedence"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "probe_hr" in plan, plan
    assert no_python(plan), plan


def test_ngram_lm_windows_after_pair_agg(spark):
    # the context-total and top-1 windows run over the (context, next)
    # AGGREGATE, not the token stream
    plan = executed_plan(QUERIES["q_ngram_lm"](spark, SF_DIR))
    # root-first print: the agg-side windows (ctx_total / top-1) must
    # have the pair-count HashAggregate BELOW them in the tree
    assert plan.index("Window") < plan.rindex("HashAggregate"), plan
    assert no_python(plan), plan


def test_simpson_diversity_two_level_agg_only(spark):
    plan = executed_plan(QUERIES["q_simpson_diversity"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert no_python(plan), plan


def test_zipf_rank_window_over_vocab_aggregate(spark):
    # the global rank window sorts the VOCAB aggregate, never the token
    # stream; top-1 broadcasts as a one-row frame
    plan = executed_plan(QUERIES["q_zipf_check"](spark, SF_DIR))
    # the raw-row_number filter lets Spark rewrite the global rank to
    # TakeOrderedAndProject(30) (per-partition heaps) feeding a 30-row
    # window — no full vocab sort ever materializes
    assert "TakeOrderedAndProject(limit=30" in plan, plan
    assert "windowspecdefinition(freq" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_assortativity_broadcasts_degrees(spark):
    plan = executed_plan(QUERIES["q_assortativity"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_reciprocity_reverse_probe_is_equi_join(spark):
    plan = executed_plan(QUERIES["q_reciprocity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_key_skew_windows_over_key_aggregate(spark):
    plan = executed_plan(QUERIES["q_key_skew"](spark, SF_DIR))
    # the rank/cum window's input Sort keys on the per-key AGG's cnt
    # column — |keys| rows, never raw lineitem
    assert "Sort [cnt" in plan, plan
    assert no_python(plan), plan


def test_join_card_est_all_equi_joins(spark):
    plan = executed_plan(QUERIES["q_join_card_est"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 6, plan  # r, s, rb, sb, act


def test_slo_burn_single_scan_one_agg_pair(spark):
    plan = executed_plan(QUERIES["q_slo_burn"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") == 2, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_elasticity_broadcasts_part_dim(spark):
    plan = executed_plan(QUERIES["q_elasticity"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hazard_cumulative_over_histogram(spark):
    # the reversed cumulative runs over the |weeks| histogram, after
    # the per-user agg pair
    plan = executed_plan(QUERIES["q_hazard_rate"](spark, SF_DIR))
    # the reversed-cumulative window sorts the histogram's week column
    # (|weeks| rows); the only corpus-scale exchange keys on user_id
    assert "Sort [week" in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "Join" not in plan, plan


def test_source_similarity_gram_is_token_equi_join(spark):
    # the pairwise dots come from a token equi-join on the tf AGGREGATE
    # with broadcast norms — never a |docs|^2 comparison
    plan = executed_plan(QUERIES["q_source_similarity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert no_python(plan), plan


def test_dispersion_stack_after_hourly_agg(spark):
    # the unpivot generator runs over the |hours| aggregate; one
    # corpus-scale agg only
    plan = executed_plan(QUERIES["q_dispersion"](spark, SF_DIR))
    assert "Generate" in plan, plan
    # root-first print: the hourly conditional agg sits BELOW the stack
    # generator, i.e. the unpivot runs over |hours| aggregated rows
    assert plan.index("Generate") < plan.rindex("HashAggregate"), plan
    assert "Join" not in plan, plan
