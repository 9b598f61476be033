"""Round-13 optimization mechanisms, pinned:

- ``_ckpt_count`` — the convergence probes of the iterative kernels
  fused into the per-round checkpoint materialization (one job per
  round instead of two; VERDICT r12 item 4).
- exception-safe posture re-apply — a builder that dies mid-flight
  forfeits the once-per-session posture shortcut (VERDICT r12
  what's-wrong #3).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES, _ckpt_count, register
from aws_vpcflowlogs_parquet_spark.session import ensure_session_posture

from .conftest import SF_DIR


def _jobs_run(spark, group: str, fn):
    """Run ``fn()`` under a job group and return how many jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return out, len(ids)


def test_ckpt_count_rows_and_count_match_plain_checkpoint(spark):
    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    leaf, n = _ckpt_count(df)
    assert n == 100
    # the leaf is materialized and row-identical to the input
    assert sorted(tuple(r) for r in leaf.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # plan is a truncated leaf (no lineage back to Range)
    assert "Range" not in leaf._jdf.queryExecution().executedPlan().toString()


def test_ckpt_count_filtered_probe(spark):
    df = spark.range(50).select(F.col("id").alias("v"))
    leaf, n = _ckpt_count(df, probe=F.count(F.when(F.col("v") >= 40, 1)))
    assert n == 10
    assert leaf.count() == 50  # the LEAF keeps every row; only the probe filters


@pytest.mark.parametrize("filtered, want", [(False, 60), (True, 20)])
def test_ckpt_count_falls_back_when_observation_never_arrives(
    spark, monkeypatch, filtered, want
):
    """Attach the observation to a frame that never runs, so its metrics
    never arrive: ckpt_count must return after its bound, with the probe
    recomputed over the checkpointed leaf."""
    from pyspark.sql import DataFrame

    from aws_vpcflowlogs_parquet_spark import caching

    real_observe = DataFrame.observe

    def lost_observe(self, obs, *exprs):
        real_observe(self.sparkSession.range(1), obs, *exprs)
        return self

    monkeypatch.setattr(DataFrame, "observe", lost_observe)
    monkeypatch.setattr(caching, "OBSERVE_WAIT_S", 0.2)
    df = spark.range(60).select(F.col("id").alias("v"))
    probe = F.count(F.when(F.col("v") >= 40, 1)) if filtered else None
    leaf, n = _ckpt_count(df, probe=probe)
    assert n == want
    assert leaf.count() == 60


def test_ckpt_count_is_one_job(spark):
    """The whole point: checkpoint + probe run FEWER jobs than the prior
    shape (checkpoint, then count()). The exact counts of either shape
    are Spark internals (AQE final-stage materialization adds jobs to
    the separate count() on Spark 4.1), so only the order is pinned."""
    df = spark.range(1000).select((F.col("id") * 2).alias("v"))
    (_, n), n_jobs = _jobs_run(
        spark, "r13-ckpt-fused", lambda: _ckpt_count(df)
    )
    assert n == 1000
    assert n_jobs >= 1

    def _old_shape():
        leaf = df.localCheckpoint(eager=True)
        return leaf.count()

    n_old, n_jobs_old = _jobs_run(spark, "r13-ckpt-old", _old_shape)
    assert n_old == 1000
    assert n_jobs < n_jobs_old


def test_failed_build_forces_posture_reapply(spark):
    """A builder that sets a session conf and raises before its finally
    leaves the posture wrong; the @register wrapper must clear the
    once-per-session flag so the NEXT build re-applies the posture."""
    name = "q_r13_posture_probe"

    @register(name)
    def _boom(spark, sf_dir):
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        raise RuntimeError("died before reaching any finally")

    try:
        ensure_session_posture(spark)
        with pytest.raises(RuntimeError):
            QUERIES[name](spark, SF_DIR)
        assert getattr(spark, "_graft_postured", None) is False
        # building any query next heals the session posture
        QUERIES["q_topk"](spark, SF_DIR)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark._graft_postured is True
    finally:
        QUERIES.pop(name, None)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
