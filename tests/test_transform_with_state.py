"""Clamped-ledger stream (streaming/stateful.py): the continuous form of
q_clamped_balance. Pins (a) the vectorized reflected-walk kernel against
the naive fold, (b) end-to-end streaming equality with the batch
recurrence, (c) exact state carry across a query RESTART (checkpoint),
(d) prefix-decomposability: any batch split yields the same ledger."""

from __future__ import annotations

import glob
import shutil

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.streaming.stateful import (
    clamped_fold_vectorized,
    start_clamped_balance_stream,
)


def _py_fold(b0, deltas):
    b, clamps = b0, 0
    for d in deltas:
        if b + d < 0:
            clamps += 1
        b = max(0, b + d)
    return b, clamps


@given(
    b0=st.integers(0, 500),
    deltas=st.lists(st.integers(-1000, 1000), max_size=200),
)
@settings(max_examples=300)
def test_vectorized_fold_matches_naive(b0, deltas):
    assert clamped_fold_vectorized(b0, deltas) == _py_fold(b0, deltas)


@given(
    deltas=st.lists(st.integers(-100, 100), min_size=1, max_size=60),
    cut=st.integers(0, 60),
)
@settings(max_examples=200)
def test_fold_is_prefix_decomposable(deltas, cut):
    # fold(whole) == fold(second half, starting from fold(first half)) —
    # the property that makes ANY micro-batch split correct
    cut = min(cut, len(deltas))
    b1, c1 = clamped_fold_vectorized(0, deltas[:cut])
    b2, c2 = clamped_fold_vectorized(b1, deltas[cut:])
    bw, cw = clamped_fold_vectorized(0, deltas)
    assert (b2, c1 + c2) == (bw, cw)


def _deltas_frame(spark):
    # the same account/delta derivation q_clamped_balance uses, over the
    # full event history (no depth bound — streams don't need one)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return ev.select(
        (F.col("user_id") % 8).cast("long").alias("account"),
        "ts",
        F.col("event_id").cast("long").alias("event_id"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.expr("CAST(floor(value * 10) AS BIGINT)"),
        )
        .otherwise(-F.expr("CAST(floor(value * 10) AS BIGINT)"))
        .alias("d"),
    )


def test_clamped_balance_stream_matches_batch_fold_with_restart(spark, tmp_path):
    deltas = _deltas_frame(spark)
    cut = "2022-06-01"
    early = deltas.filter(F.col("ts") < F.lit(cut).cast("timestamp"))
    late = deltas.exceptAll(early)
    if early.count() == 0 or late.count() == 0:  # ts-range fallback
        mid = deltas.approxQuantile("event_id", [0.5], 0.0)[0]
        early = deltas.filter(F.col("event_id") <= mid)
        late = deltas.exceptAll(early)

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def stage(df, name):
        tmp = str(tmp_path / f"_w_{name}")
        df.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    def stream():
        return spark.readStream.schema(
            "account long, ts timestamp, event_id long, d long"
        ).parquet(str(src))

    # run 1: early history
    stage(early.orderBy("ts", "event_id"), "a.parquet")
    q = start_clamped_balance_stream(stream(), out, ckpt)
    q.awaitTermination()

    # run 2 (RESTART: state must come back from the checkpoint store)
    stage(late.orderBy("ts", "event_id"), "b.parquet")
    q2 = start_clamped_balance_stream(stream(), out, ckpt)
    q2.awaitTermination()

    # latest emitted row per account == batch fold over the FULL history
    got_df = spark.read.parquet(out)
    w_latest = got_df.groupBy("account").agg(
        F.max_by(
            F.struct("balance", "n_clamps", "n_seen"), F.col("n_seen")
        ).alias("s")
    )
    got = {
        r.account: (r.s.balance, r.s.n_clamps, r.s.n_seen)
        for r in w_latest.collect()
    }
    rows = deltas.orderBy("ts", "event_id").collect()
    per_acct: dict[int, list[int]] = {}
    for r in rows:
        per_acct.setdefault(r.account, []).append(r.d)
    for acct, ds in per_acct.items():
        b, c = _py_fold(0, ds)
        assert got[acct] == (b, c, len(ds)), acct
    assert set(got) == set(per_acct)
