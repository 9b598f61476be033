"""Join strategy helpers (operators/joins.py): salted skew join produces
identical results to the plain join; bucketed tables join with no exchange.

These are 100 TB posture proofs — the small-SF result equivalence plus the
plan-shape assertion is exactly what carries to a cluster.
"""

from __future__ import annotations

import pytest

from aws_vpcflowlogs_parquet_spark.operators.joins import (
    SALT_KEY,
    ensure_bucketed,
    salted_join,
)
from aws_vpcflowlogs_parquet_spark.sources.tables import load_table

from .conftest import SF_DIR, canon_rows


def _rows(df):
    return canon_rows(df.columns, [tuple(r) for r in df.collect()])


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_DIR, "orders").withColumnRenamed(
        "o_custkey", SALT_KEY
    )
    customer = load_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", SALT_KEY
    )
    plain = orders.join(customer, [SALT_KEY], "inner")
    salted = salted_join(orders, customer)
    assert sorted(plain.columns) == sorted(salted.columns)
    assert _rows(plain.select(*sorted(plain.columns))) == _rows(
        salted.select(*sorted(plain.columns))
    )


def test_salted_join_spreads_keys(spark):
    # every (key, salt) combination of the small side exists: SALTS per row
    customer = load_table(spark, SF_DIR, "customer").limit(10)
    orders = load_table(spark, SF_DIR, "orders").withColumnRenamed(
        "o_custkey", SALT_KEY
    )
    out = salted_join(orders, customer.withColumnRenamed("c_custkey", SALT_KEY))
    plain = orders.join(
        customer.withColumnRenamed("c_custkey", SALT_KEY), [SALT_KEY]
    )
    assert out.count() == plain.count()


@pytest.fixture()
def bucketed_tables(spark):
    # the session warehouse dir is static config; tables land in the
    # default warehouse and are dropped afterward
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    ensure_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "orders_b")
    ensure_bucketed(lineitem.withColumnRenamed("l_orderkey", "okey"), "lineitem_b")
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    t1, t2 = bucketed_tables
    # force the sort-merge path: at this tiny SF the planner would rather
    # broadcast (which bypasses bucketing); at scale SMJ is the real plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(t1).join(spark.table(t2), "okey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # co-located bucketed join: zero shuffle on either side
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan
    # and the result is the same as the shuffled join of the raw tables
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    expected = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).count()
    assert joined.count() == expected


def test_ensure_bucketed_writes_once_per_session(spark):
    # round-3 fix: q_join_bucketed's layout write must amortize — a second
    # invocation reuses the existing table instead of rewriting it
    import glob
    import os

    orders = load_table(spark, SF_DIR, "orders")
    try:
        ensure_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "orders_eb")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        files = sorted(glob.glob(os.path.join(wh, "orders_eb", "*.parquet")))
        assert files
        mtimes = [os.path.getmtime(f) for f in files]
        ensure_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "orders_eb")
        files2 = sorted(glob.glob(os.path.join(wh, "orders_eb", "*.parquet")))
        assert files2 == files
        assert [os.path.getmtime(f) for f in files2] == mtimes
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_eb")


def test_aqe_splits_skewed_join(spark):
    """Runtime skew handling: AQE must detect a hot join key's oversized
    shuffle partition and split it (OptimizeSkewedJoin) — the automatic
    complement to the manual salted_join. Thresholds are lowered so the
    skew is visible at test scale; on a cluster the defaults (256 MB)
    play the same role.
    """
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # the count() below adds a post-join shuffle; without force, AQE
        # declines to split rather than add an exchange
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # ~95% of 1M rows on one key; pad makes the hot partition's bytes
        # unambiguous vs the per-partition skew threshold
        left = (
            spark.range(0, 1_000_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 20 < 19, F.lit(1)).otherwise(
                    F.col("id") % 1000
                ),
            )
            .withColumn("pad", F.repeat(F.md5(F.col("id").cast("string")), 8))
        )
        right = (
            spark.range(0, 1000)
            .withColumnRenamed("id", "k2")
            .withColumn("v", F.md5(F.col("k2").cast("string")))
        )
        j = left.join(right, left.k == right.k2).select(F.count("*").alias("n"))
        assert j.collect()[0]["n"] == 1_000_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
