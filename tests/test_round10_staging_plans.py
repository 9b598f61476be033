"""Plan-shape pins for the 27 round-10-staged queries, PROMOTED to the
catalog in round 11 — the same `.explain`-level posture checks the
catalog batches get (test_round10_plan_shapes.py); repointed at the
catalog registry when the `@staged` blocks moved (r10 VERDICT item 1)."""

from __future__ import annotations

import pytest

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan, no_python

# the 27 round-10-staged queries, now registered in the catalog
PROMOTED_R10 = [
    "q_group_lcp",
    "q_histogram_equalize",
    "q_ratio_delta_method",
    "q_h_index",
    "q_linear_interpolate",
    "q_csv_sniff",
    "q_outlier_iqr",
    "q_readability",
    "q_forecast_backtest",
    "q_ua_parse",
    "q_modularity",
    "q_er_score",
    "q_flow_stitch",
    "q_feature_hash_audit",
    "q_revenue_recognition",
    "q_diff_in_diff",
    "q_grid_hotspot",
    "q_reconciliation",
    "q_sampling_temperature",
    "q_span_f1",
    "q_encoding_advisor",
    "q_merkle_levels",
    "q_mix_rate_decomposition",
    "q_t_closeness",
    "q_conformal_interval",
    "q_apdex",
    "q_backfill_plan",
]


@pytest.mark.parametrize("name", sorted(PROMOTED_R10))
def test_staged_no_cartesian_no_rowwise_python(spark, name):
    # universal posture: no cartesian product, no row-at-a-time Python
    # UDF in any staged plan (broadcast nested-loop against 1-row or
    # constant-size frames is allowed and asserted per-query below)
    plan = executed_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, (name, plan)
    assert no_python(plan), (name, plan)


def test_group_lcp_two_mergeable_aggs_no_join(spark):
    plan = executed_plan(QUERIES["q_group_lcp"](spark, SF_DIR))
    assert "Join" not in plan, plan
    # string min/max may plan as Sort- or ObjectHashAggregate; the pin
    # is that SOME aggregate pair exists and nothing else shuffles
    assert "Aggregate" in plan, plan


def test_ema_crossover_scan_is_agg_side_fold(spark):
    # the prefix scan lives inside a projection over a hash agg —
    # no window operator, no iterative joins
    plan = executed_plan(QUERIES["q_ema_crossover"](spark, SF_DIR))
    assert "Window" not in plan, plan


def test_er_score_never_materializes_pairs(spark):
    # round-11 rework: the pair relation must NOT exist — verdict
    # counts come from inclusion-exclusion over marginal histograms
    # (scalar aggregates + 1-row broadcasts + bounded offset joins).
    # The only non-broadcast joins allowed are the size-offset
    # histogram equi-joins; no self-join of parts on the block key.
    plan = executed_plan(QUERIES["q_er_score"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # the old shape's signature: a sort-merge self-join on noun with
    # the p_partkey range residual
    assert "p_partkey" not in plan, plan


def test_flow_stitch_single_agg_no_join(spark):
    plan = executed_plan(QUERIES["q_flow_stitch"](spark, SF_DIR))
    assert "Join" not in plan, plan


def test_table_checksum_no_join_mergeable_aggs(spark):
    plan = executed_plan(QUERIES["q_table_checksum"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial/final


def test_reconciliation_joins_are_equi_keyed(spark):
    plan = executed_plan(QUERIES["q_reconciliation"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_merkle_levels_no_join(spark):
    plan = executed_plan(QUERIES["q_merkle_levels"](spark, SF_DIR))
    assert "Join" not in plan, plan
