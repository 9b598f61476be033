"""Round-10 streaming pins: the watermark late-filter/eviction boundary
semantics q_stream_late_data's oracle encodes, the time-skewed-duplicate
collapse of q_stream_late_dedup, the foreachBatch windowed top-k, and
the three-file lateness staging layout.

The load-bearing empiric (measured on this engine, pyspark 4.1.2, and
pinned here so a version bump that changes it fails loudly): in a
micro-batch N, the LATE-DATA FILTER for a windowed aggregation uses the
watermark that was current DURING batch N-1 (one batch behind), dropping
rows iff window.end <= that value; EVICTION in batch N emits windows
with end <= the batch-N watermark. The filter lag is why the lateness
staging needs its middle watermark-pusher file: without it the odd rows
would be filtered against the initial epoch watermark and nothing would
ever drop.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.plans import catalog as C
from aws_vpcflowlogs_parquet_spark.streaming import harness as H


def _events_table(rows):
    # rows: (event_id, minute-offset, user_id, event_type)
    base_us = 1_700_000_000_000_000
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base_us + r[1] * 60_000_000 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _run_windowed_append(spark, src_dir, out_dir, ckpt_dir):
    sdf = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt_dir))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r.ws.minute, r.ws.hour): r.n
        for r in spark.read.parquet(str(out_dir)).collect()
    }, q


def test_late_filter_lags_eviction_by_one_batch(spark, tmp_path):
    """The exp distilled: with watermark delay 30 min and 1 h windows,
    batch 0 = ts 10:30 (watermark 10:00 after it), batch 1 = ts 13:00
    (watermark 12:30 after it), batch 2 carries three probes:

    - 09:55 (window end 10:00 <= batch-1 watermark 10:00) -> DROPPED
    - 10:25 (window end 11:00 >  batch-1 watermark 10:00) -> kept, even
      though 11:00 < the batch-2 eviction watermark 12:30
    - 12:05 (window end 13:00) -> kept

    If the filter used the CURRENT (batch-2) watermark, 10:25 would be
    dropped too; if it never advanced, 09:55 would survive. Both
    boundary directions (<=) are pinned by the emitted counts."""
    base = datetime.datetime(2024, 1, 1)

    def at(h, m):
        return int(
            (base + datetime.timedelta(hours=h, minutes=m)).timestamp()
            * 1_000_000
        )

    def wf(name, times, mt):
        t = pa.table(
            {
                "event_id": pa.array(range(len(times)), pa.int64()),
                "ts": pa.array(times, pa.timestamp("us")),
                "user_id": pa.array([1] * len(times), pa.int64()),
                "event_type": pa.array(["click"] * len(times)),
                "value": pa.array([0.0] * len(times), pa.float64()),
                "props": pa.array(["{}"] * len(times)),
            }
        )
        p = tmp_path / "src" / name
        pq.write_table(t, p)
        os.utime(p, (mt, mt))

    (tmp_path / "src").mkdir()
    wf("a.parquet", [at(10, 30)], 1000)
    wf("b.parquet", [at(13, 0)], 2000)
    wf("c.parquet", [at(9, 55), at(10, 25), at(12, 5)], 3000)
    wf("zz.parquet", [at(20, 0)], 4000)

    got, q = _run_windowed_append(
        spark, tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    )
    emitted = {
        (hm[1], hm[0]): n for hm, n in got.items()
    }  # (hour, minute) -> n
    # 09:55 dropped: no 09:00 window
    assert (9, 0) not in emitted
    # 10:25 kept and merged with batch-0's 10:30
    assert emitted[(10, 0)] == 2
    assert emitted[(12, 0)] == 1
    assert emitted[(13, 0)] == 1
    # the drop registered in the engine's own metric, in batch 2
    drops = [
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert sum(drops) == 1


def test_late_staging_layout_and_w1(tmp_path, monkeypatch):
    """late_staged_events_dir: three files, mtime-ordered evens ->
    pusher -> odds; W1 = max(even ts) - 30 min in integer us."""
    src = tmp_path / "sf"
    src.mkdir()
    t = _events_table(
        [(i, i * 7, i % 3, "click") for i in range(10)]  # ids 0..9
    )
    pq.write_table(t, src / "events.parquet")
    monkeypatch.setattr(H, "_STAGED_DIR_CACHE", {})
    d, w1 = H.late_staged_events_dir(str(src))
    names = sorted(os.listdir(d), key=lambda n: os.stat(f"{d}/{n}").st_mtime)
    assert names == [
        "events.parquet",
        "b_watermark_pusher.parquet",
        "c_late_odds.parquet",
    ]
    evens = pq.read_table(f"{d}/events.parquet")
    odds = pq.read_table(f"{d}/c_late_odds.parquet")
    assert sorted(evens.column("event_id").to_pylist()) == [0, 2, 4, 6, 8]
    assert sorted(odds.column("event_id").to_pylist()) == [1, 3, 5, 7, 9]
    max_even_us = 1_700_000_000_000_000 + 8 * 7 * 60_000_000
    assert w1 == max_even_us - 1_800_000_000
    pusher = pq.read_table(f"{d}/b_watermark_pusher.parquet")
    assert pusher.column("user_id").to_pylist() == [-1]
    # pusher sits 2h past the global max — far above every real window
    assert (
        pusher.column("ts")[0].cast(pa.int64()).as_py()
        == 1_700_000_000_000_000 + 9 * 7 * 60_000_000 + 7_200_000_000
    )


def test_stream_late_data_drops_exactly_the_oracle_set(spark, tmp_path):
    """End-to-end witness at fixture scale: evens at minutes 0..300,
    odds spread so some odd windows end before W1 (dropped) and some
    after (kept). Expected = evens + odds with window_end > W1."""
    src = tmp_path / "sf"
    src.mkdir()
    rows = [(i, i * 31, i % 4, "click") for i in range(20)]
    pq.write_table(_events_table(rows), src / "events.parquet")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # fresh staging for this tmp dir
    H._STAGED_DIR_CACHE.pop(("late3", os.path.abspath(str(src))), None)
    out = C.QUERIES["q_stream_late_data"](spark, str(src))
    got = {(r.window_start, r.n) for r in out.collect()}

    base_us = 1_700_000_000_000_000
    max_even_us = base_us + 18 * 31 * 60_000_000
    w1 = max_even_us - 1_800_000_000
    from collections import Counter

    keep = Counter()
    for i, mins, _, _ in rows:
        ts = base_us + mins * 60_000_000
        ws = (ts // 3_600_000_000) * 3_600_000_000
        if i % 2 == 0 or ws + 3_600_000_000 > w1:
            keep[ws] += 1
    exp = {
        (
            datetime.datetime.fromtimestamp(
                ws // 1_000_000, datetime.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S"),
            n,
        )
        for ws, n in keep.items()
    }
    assert got == exp
    # the scenario is non-trivial in both directions
    dropped = [
        (i, m) for i, m, _, _ in rows
        if i % 2 == 1
        and ((base_us + m * 60_000_000) // 3_600_000_000 + 1)
        * 3_600_000_000
        <= w1
    ]
    assert dropped, "fixture must actually exercise the drop path"
    assert len(dropped) < 10, "and must keep some odd rows too"


def test_stream_late_dedup_collapses_time_skewed_dups(spark, tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    rows = [(i, i * 3, i % 2, "click") for i in range(8)]
    pq.write_table(_events_table(rows), src / "events.parquet")
    H._STAGED_DIR_CACHE.pop(("dup5m", os.path.abspath(str(src))), None)
    out = C.QUERIES["q_stream_late_dedup"](spark, str(src))
    got = sorted((r.event_id, r.user_id, r.event_type) for r in out.collect())
    assert got == [(i, i % 2, "click") for i in range(8)]
    # the staged dir really holds skewed duplicates, not copies
    d = H._STAGED_DIR_CACHE[("dup5m", os.path.abspath(str(src)))]
    dups = pq.read_table(f"{d}/dups_plus5m.parquet")
    orig = pq.read_table(f"{d}/events.parquet")
    assert (
        dups.column("ts")[0].cast(pa.int64()).as_py()
        - orig.column("ts")[0].cast(pa.int64()).as_py()
        == 300_000_000
    )


def test_stream_topk_ranks_within_windows(spark, tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    # hour 0: user 1 x3, user 2 x2, user 3 x1, user 4 x1 (tie at n=1 ->
    # user_id tie-break keeps 3, drops 4); hour 1: user 5 x1
    rows = (
        [(i, 1 + i, 1, "click") for i in range(3)]
        + [(10 + i, 10 + i, 2, "click") for i in range(2)]
        + [(20, 30, 3, "click"), (21, 40, 4, "click")]
        + [(30, 70, 5, "click")]
    )
    pq.write_table(_events_table(rows), src / "events.parquet")
    H._STAGED_DIR_CACHE.pop(("plain", os.path.abspath(str(src))), None)
    out = C.QUERIES["q_stream_topk"](spark, str(src))
    got = sorted(
        (r.window_start, r.user_id, r.n, r.rk) for r in out.collect()
    )
    h0 = got[0][0]
    h1 = got[3][0]
    assert got == [
        (h0, 1, 3, 1),
        (h0, 2, 2, 2),
        (h0, 3, 1, 3),
        (h1, 5, 1, 1),
    ]
