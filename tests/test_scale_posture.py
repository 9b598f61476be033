"""Scale-posture tests: partition pruning at the scan, and the multimodal
mapInPandas plumbing (resize / frame sampling).

These assert the *plan and layout properties* that carry to 100 TB, not
just row values.
"""

from __future__ import annotations

from aws_vpcflowlogs_parquet_spark.operators.convert import convert_flowlogs
from aws_vpcflowlogs_parquet_spark.operators.multimodal import (
    resize_images,
    sample_frames,
)
from aws_vpcflowlogs_parquet_spark.session import CODEGEN_CACHE_ENTRIES
from aws_vpcflowlogs_parquet_spark.sources.tables import load_table

from .conftest import SF_DIR

HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)


def _mk_line(acct: str, start: int, sport: int) -> str:
    return (
        f"2 {acct} eni-1 10.0.2.2 10.0.4.8 {sport} 5245 17 6 965 "
        f"{start} {start + 420} ACCEPT OK"
    )


def test_codegen_cache_sized_to_working_set(spark):
    # static conf: only the session factory can set it
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_partition_pruning_reaches_scan(spark, tmp_path):
    src = tmp_path / "a.log"
    src.write_text(
        "\n".join(
            [HEADER]
            + [_mk_line("111111111111", 1541375637, 1)]
            + [_mk_line("222222222222", 1541462037, 2)]
        )
    )
    dst = str(tmp_path / "table")
    convert_flowlogs(spark, str(src), dst)
    df = spark.read.parquet(dst).filter("dt = '2018-11-04'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2018-11-04" in plan, plan
    # the other dt partition is pruned, not filtered row-by-row
    assert df.count() == 1


def test_resize_images_plumbing(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    out = resize_images(docs).collect()
    assert len(out) == 50
    for r in out:
        assert max(r.out_width, r.out_height) <= 64
        assert r.out_width >= 1 and r.out_height >= 1
        # no upscaling
        assert r.out_width <= r.width and r.out_height <= r.height


def test_sample_frames_fan_out(spark):
    import hashlib

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    out = sample_frames(docs)
    rows = out.collect()
    assert len(rows) == 60
    assert out.columns == ["doc_id", "frame_idx", "frame_bytes", "frame_md5"]
    # spot-check determinism against direct slicing of one payload
    doc = docs.filter("doc_id = 0").collect()[0]
    payload = doc.text.encode("utf-8")
    k = max(len(payload) // 3, 1)
    want = hashlib.md5(payload[:k]).hexdigest()
    got = [r.frame_md5 for r in rows if r.doc_id == 0 and r.frame_idx == 0]
    assert got == [want]


def test_approx_count_distinct_within_bound(spark):
    # the documented 100 TB swap for exact multi-distinct (SCALE.md):
    # approx_count_distinct is a mergeable HLL sketch — partial aggregation
    # stays enabled, shuffle carries one sketch per group instead of the
    # full value set. Default rsd is 5%; assert the estimate lands well
    # inside it on real data.
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_DIR, "orders")
    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey").alias("approx"),
    ).collect()[0]
    assert row["exact"] > 0
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.10


def test_kmv_estimate_within_theoretical_bound(spark):
    # KMV with k=64 has relative standard error ~1/sqrt(k-2) ≈ 12.7%;
    # assert every group's estimate lands within 4 sigma of the exact
    # count — validates the estimator, not just the arithmetic mirror
    from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

    rows = QUERIES["q_sketch_kmv"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        rel_err = abs(r["est_distinct"] - r["n_exact"]) / r["n_exact"]
        assert rel_err < 4 / (62 ** 0.5), (r["o_orderpriority"], rel_err)


def test_bloom_filter_has_no_false_negatives(spark):
    # the Bloom guarantee: every true member is a bloom positive. The
    # false-positive overshoot is bounded loosely (k=3, m=1024 vs a
    # few-hundred-key member set keeps it far under 10% of probes).
    from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

    row = QUERIES["q_bloom_filter"](spark, SF_DIR).collect()[0]
    assert row["n_bloom_pos"] >= row["n_true_pos"]
    assert row["n_bloom_pos"] - row["n_true_pos"] <= row["n_probed"] * 0.1


def test_ngram_pairs_guard_rejects_unbounded_input(spark):
    """The quadratic verification kernel must refuse corpus-scale input:
    callers get candidates from minhash_lsh_pairs, never all-pairs."""
    import pytest as _pytest

    from aws_vpcflowlogs_parquet_spark.operators import dedup as dd

    docs = load_table(spark, SF_DIR, "documents")
    # more rows inside the id bound than the kernel accepts
    wide = spark.range(dd.NGRAM_PAIRS_MAX_INPUT + 1).selectExpr(
        f"id % {dd.NGRAM_MAX_ID} AS doc_id",
        "'the quick brown fox jumps over the lazy dog' AS text",
    )
    with _pytest.raises(ValueError, match="quadratic verification kernel"):
        dd.ngram_jaccard_pairs(wide)
    # bounded form still works
    assert dd.ngram_jaccard_pairs(docs).count() >= 0


def test_parquet_aggregate_pushdown_available(spark):
    # footer-stats MIN/MAX/COUNT answering — the scan never materializes
    # rows. Requires the V2 parquet reader; the engine documents this as
    # an opt-in posture (V1 remains the default for source stability),
    # and this test pins that the capability actually engages when opted
    # into: plan shows PushedAggregation and results match the row path.
    import pyspark.sql.functions as F

    base = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    expected = base.agg(
        F.count("*").alias("n"), F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    ).collect()[0]
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        q = spark.read.parquet(f"{SF_DIR}/orders.parquet").agg(
            F.count("*").alias("n"), F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan, plan
        got = q.collect()[0]
        assert tuple(got) == tuple(expected)
    finally:
        spark.conf.set(
            "spark.sql.sources.useV1SourceList",
            "avro,csv,json,kafka,orc,parquet,text",
        )
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
