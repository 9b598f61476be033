"""Layout-management tests: clustering must measurably improve footer
min-max data skipping — the property that pays at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.operators.layout import (
    file_skip_fraction,
    optimize_layout,
    zorder_key,
)

from .conftest import SF_DIR


def _pts(spark):
    # multiplicative spread so both coordinates cover the full 8-bit
    # space (raw user_id spans only 0..14 at sf0.001)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    return ev.select(
        ((F.col("event_id") * 37) % 256).alias("x"),
        ((F.col("event_id") * 101 + 7) % 256).alias("y"),
        "event_id",
    )


def test_range_clustering_enables_skipping(spark, tmp_path):
    pts = _pts(spark)
    base, opt = str(tmp_path / "base"), str(tmp_path / "opt")
    # baseline: hash-scattered layout (every file spans the full x range)
    pts.repartition(8).write.parquet(base)
    optimize_layout(pts, opt, cluster_by=["x"], n_files=8)
    q = (10, 20)  # narrow x range
    assert file_skip_fraction(base, "x", *q) == 0.0
    # ~1/8 of the value space → ideally 7/8 skipped; sampled range
    # boundaries on a 256-value key can straddle one extra file
    assert file_skip_fraction(opt, "x", *q) >= 0.6


def test_zorder_improves_skipping_on_both_columns(spark, tmp_path):
    pts = _pts(spark)
    base, opt = str(tmp_path / "base"), str(tmp_path / "opt")
    pts.repartition(16).write.parquet(base)
    optimize_layout(pts, opt, cluster_by=["x", "y"], n_files=16)
    # a box predicate must prune on EITHER clustered column — the whole
    # point of the curve vs. single-column sort (which helps only x)
    for col in ("x", "y"):
        assert file_skip_fraction(base, col, 0, 31) == 0.0
        assert file_skip_fraction(opt, col, 0, 31) >= 0.5, col


def test_zorder_write_is_single_shuffle_and_schema_stable(spark, tmp_path):
    pts = _pts(spark)
    out = str(tmp_path / "z")
    optimize_layout(pts, out, cluster_by=["x", "y"], n_files=4)
    back = spark.read.parquet(out)
    assert back.columns == pts.columns  # helper key projected away
    assert back.count() == pts.count()
    # the rewrite plan: exactly one exchange (the range repartition); the
    # sort rides it
    plan = (
        pts.withColumn("_ck", zorder_key(["x", "y"]))
        .repartitionByRange(4, "_ck")
        .sortWithinPartitions("_ck")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_zorder_key_never_touches_sign_bit(spark):
    # 4 columns at the default 16 bits/dim would land a bit at position
    # 63 (bigint sign): the clamp (bits = 63 // n_cols) must keep every
    # key non-negative so range-partitioning preserves Morton order
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    four = ev.select(
        *[((F.col("event_id") * m) % 65536).alias(c)
          for c, m in (("a", 37), ("b", 101), ("c", 13), ("d", 7))]
    )
    mn = four.select(
        F.min(zorder_key(["a", "b", "c", "d"])).alias("mn")
    ).collect()[0]["mn"]
    assert mn >= 0


def test_zorder_clamp_keeps_curve_locality(spark):
    # with the clamp, two points differing only in high coordinates must
    # still produce distinct ordered keys within the representable domain
    df = spark.createDataFrame(
        [(1, 1, 1, 1), (2, 2, 2, 2)], "a int, b int, c int, d int"
    )
    keys = [
        r["k"]
        for r in df.select(
            zorder_key(["a", "b", "c", "d"]).alias("k")
        ).orderBy("k").collect()
    ]
    assert keys[0] < keys[1]
