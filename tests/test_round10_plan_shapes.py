"""Plan-shape pins for the round-10 batch-2 mechanisms: `.explain`-level
proof that each compiles to the physical strategy its docstring claims
for the 100 TB posture."""

from __future__ import annotations

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan, no_python


def test_sssp_all_frontier_joins_broadcast(spark):
    # every relaxation round joins a <=10-row frontier against the
    # persisted edge relation: broadcast hash joins only, no cartesian,
    # no sort-merge in ANY round. Rounds localCheckpoint (lineage
    # truncation, r12), so the returned frame's own plan is a union of
    # materialized leaves — the per-round plans are stashed on the
    # frame and pinned individually.
    out = QUERIES["q_sssp_bellman_ford"](spark, SF_DIR)
    rounds = out._sssp_round_plans
    assert len(rounds) == 9, len(rounds)
    saw_cached_edges = False
    for step in rounds:
        plan = executed_plan(step)
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert no_python(plan), plan
        saw_cached_edges = saw_cached_edges or "InMemoryTableScan" in plan
    assert saw_cached_edges  # edges persisted once, read per round
    final = executed_plan(out)
    assert "Join" not in final, final  # rounds materialized, union only
    assert no_python(final), final


def test_sparse_matmul_broadcasts_dense_side(spark):
    # both operands bucket-reduce before the join (partial agg pairs),
    # B broadcasts, the (i,j) re-agg is the only wide exchange
    plan = executed_plan(QUERIES["q_sparse_matmul"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 6, plan  # 3 aggs x partial/final
    assert no_python(plan), plan


def test_cidr_merge_log_rounds_no_joins_beyond_semi(spark):
    # per-level child counts are hash aggs; stuck rows retire via
    # equi-keyed semi joins — no nested-loop anywhere
    plan = executed_plan(QUERIES["q_cidr_merge"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert no_python(plan), plan


def test_quantile_normalization_rank_window_partitioned(spark):
    # the ranking window is PARTITIONED (by source); min-size frame
    # attaches by broadcast; the rank join is equi-keyed
    plan = executed_plan(QUERIES["q_quantile_normalization"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row size frame
    assert "CartesianProduct" not in plan, plan
    assert no_python(plan), plan


def test_drawdown_one_exchange_two_window_passes(spark):
    # cumsum and cummax share the user_id partitioning: exactly one
    # shuffle origin for both windows plus the final agg
    plan = executed_plan(QUERIES["q_drawdown"](spark, SF_DIR))
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan, plan
    assert no_python(plan), plan


def test_url_canonicalize_pure_codegen(spark):
    # the canonicalization pipeline is all built-in string/array
    # expressions: no Python eval, no join, one count exchange
    plan = executed_plan(QUERIES["q_url_canonicalize"](spark, SF_DIR))
    # (AQE prints isFinalPlan=false pre-execution, so codegen spans are
    # not visible here; no-Python + no-join is the pin)
    assert "Join" not in plan, plan
    assert no_python(plan), plan


def test_grid_stencil_broadcast_fanout(spark):
    # the 9-row offset table broadcasts; scatter is one fan-out join,
    # gather one hash-agg pair
    plan = executed_plan(QUERIES["q_grid_stencil"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan  # 9-row cross fan-out
    assert "CartesianProduct" not in plan, plan
    assert no_python(plan), plan


def test_bin_packing_fold_no_window_no_join(spark):
    # the per-brand fold is agg-side only: collect into an ordered
    # array inside a hash agg, fold as a projection — no window, no join
    plan = executed_plan(QUERIES["q_bin_packing_nextfit"](spark, SF_DIR))
    assert "Window" not in plan and "Join" not in plan, plan
    assert no_python(plan), plan


def test_bollinger_single_window_family(spark):
    # rolling sums + row_number share the (event_type, event_id)
    # ordering: one window operator block, no join
    plan = executed_plan(QUERIES["q_bollinger"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert no_python(plan), plan


def test_sma_crossover_integer_only_single_partitioning(spark):
    # all three window passes share one partitioning; no join; the
    # sign never touches a division (integer lattice end-to-end)
    plan = executed_plan(QUERIES["q_sma_crossover"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert no_python(plan), plan


def test_tree_lca_closure_joins_no_cartesian(spark):
    # pointer-doubling rounds and the pair-resolution joins are all
    # equi-keyed; the 255-node closure broadcasts into the pair joins
    plan = executed_plan(QUERIES["q_tree_lca"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert no_python(plan), plan


def test_unicode_nfc_map_only_until_audit(spark):
    # the normalizer is mapInPandas (Arrow-batched Python, the ONE
    # deliberate Python stage); everything after is a hash-agg pair
    plan = executed_plan(QUERIES["q_unicode_nfc"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time UDF


def test_luhn_phonetic_knapsack_pure_codegen(spark):
    for name in ("q_luhn_check", "q_phonetic_blocking",
                 "q_knapsack_greedy"):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert no_python(plan), (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
