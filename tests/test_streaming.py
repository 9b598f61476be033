"""Structured Streaming tests: drive file sources to completion
synchronously (processAllAvailable) and assert against batch twins —
the Kappa property: streaming results == batch results on the same data.
"""

from __future__ import annotations

import gzip
import shutil

from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.sources.tables import load_table, stream_events
from aws_vpcflowlogs_parquet_spark.streaming.convert_stream import start_flowlog_stream
from aws_vpcflowlogs_parquet_spark.streaming.windows import (
    WATERMARK,
    sessionized,
    stream_stream_join,
    streaming_dedup,
    tumbling_agg,
)

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


def test_stream_convert_end_to_end(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    dst = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    with gzip.open(src / "a.log.gz", "wt") as f:
        f.write("\n".join([HEADER, _mk_line("111111111111", 1541375637, 1)]))
    q = start_flowlog_stream(spark, str(src), str(dst), str(ckpt))
    try:
        q.processAllAvailable()
        assert spark.read.parquet(str(dst)).count() == 1
        # second file arrives while the query runs → picked up incrementally
        (src / "b.log").write_text(
            "\n".join([HEADER, _mk_line("222222222222", 1541462037, 2)])
        )
        q.processAllAvailable()
        back = spark.read.parquet(str(dst))
        assert back.count() == 2
        assert sorted(
            tuple(r) for r in back.select("dt", "account").distinct().collect()
        ) == [("2018-11-04", "111111111111"), ("2018-11-05", "222222222222")]
    finally:
        q.stop()


def test_stream_restart_is_exactly_once(spark, tmp_path):
    # stop and restart on the same checkpoint after every micro-batch,
    # one new file per run: each row lands exactly once (upgrade over the
    # reference's at-most-once, main.go:77-83)
    src = tmp_path / "drop"
    src.mkdir()
    dst = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    files = [
        [_mk_line("111111111111", 1541375637, 1), _mk_line("111111111111", 1541375637, 1)],
        [_mk_line("222222222222", 1541462037, 2)],
        [_mk_line("111111111111", 1541375637, 3), _mk_line("333333333333", 1541548437, 4)],
    ]
    for i, lines in enumerate(files):
        (src / f"f{i}.log").write_text("\n".join([HEADER, *lines]))
        q = start_flowlog_stream(spark, str(src), str(dst), str(ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # a last restart with nothing new must not replay a committed batch
    q = start_flowlog_stream(spark, str(src), str(dst), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(str(dst))
    got = sorted(tuple(r) for r in back.select("accountid", "start_ts", "srcport").collect())
    assert got == [
        ("111111111111", 1541375637, 1),
        ("111111111111", 1541375637, 1),
        ("111111111111", 1541375637, 3),
        ("222222222222", 1541462037, 2),
        ("333333333333", 1541548437, 4),
    ]
    assert sorted(tuple(r) for r in back.select("dt", "account").distinct().collect()) == [
        ("2018-11-04", "111111111111"),
        ("2018-11-05", "222222222222"),
        ("2018-11-06", "333333333333"),
    ]


def test_stream_replay_of_uncommitted_batch_is_exactly_once(spark, tmp_path):
    # a crash after the sink write and before the commit: the restart
    # replays the batch from the offset log, and the sink must rewrite its
    # rows, not add a second copy (replayable source + idempotent sink)
    src = tmp_path / "drop"
    src.mkdir()
    dst = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    rows = [("111111111111", 1541375637, 1), ("222222222222", 1541462037, 2)]
    (src / "a.log").write_text("\n".join([HEADER, *(_mk_line(*r) for r in rows)]))
    q = start_flowlog_stream(spark, str(src), str(dst), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    commits = sorted((ckpt / "commits").glob("[0-9]*"), key=lambda p: int(p.name))
    last = commits[-1]
    last.unlink()
    (last.parent / f".{last.name}.crc").unlink(missing_ok=True)
    q = start_flowlog_stream(spark, str(src), str(dst), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert (ckpt / "commits" / last.name).exists()  # the batch did replay
    back = spark.read.parquet(str(dst)).select("accountid", "start_ts", "srcport")
    assert sorted(tuple(r) for r in back.collect()) == rows


def _stream_events(spark, tmp_path):
    # stage the events table as a parquet streaming source
    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "events.parquet")
    batch = load_table(spark, SF_DIR, "events")
    return stream_events(spark, str(src)), batch


def test_tumbling_agg_matches_batch(spark, tmp_path):
    streaming, batch = _stream_events(spark, tmp_path)
    out = tumbling_agg(streaming)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT window_start, event_type, n, sum_value FROM tumbling_out"
        )
        expected = tumbling_agg(batch).select(
            "window_start", "event_type", "n", "sum_value"
        )
        # append mode emits only windows closed by the watermark; every
        # emitted row must match the batch computation exactly
        assert got.count() > 0
        assert got.exceptAll(expected).count() == 0
    finally:
        q.stop()


def test_sessionized_runs(spark, tmp_path):
    streaming, _ = _stream_events(spark, tmp_path)
    out = sessionized(streaming)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM sessions_out WHERE session_end > session_start"
        ).count()
        assert rows > 0
    finally:
        q.stop()


def test_streaming_dedup_bounded_state(spark, tmp_path):
    streaming, batch = _stream_events(spark, tmp_path)
    out = streaming_dedup(streaming)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0]["n"]
        # no exact (user_id, event_type, ts) duplicates exist in the data,
        # so dedup-within-watermark passes everything through
        assert n == batch.count()
    finally:
        q.stop()


def test_stateful_user_stats_carries_state_across_batches(spark, tmp_path):
    # the applyInPandasWithState accumulator must survive micro-batch
    # boundaries: feed the events table in two batches and check the final
    # emitted totals equal the batch GROUP BY over the whole table
    import pyarrow.parquet as pq

    from aws_vpcflowlogs_parquet_spark.streaming.windows import stateful_user_stats

    src = tmp_path / "st_src"
    src.mkdir()
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), src / "events.parquet")
    stream = stream_events(spark, str(src))
    out = stateful_user_stats(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batch1 = spark.sql("SELECT count(*) AS n FROM stateful_out").collect()[0]["n"]
        pq.write_table(tbl.slice(half), src / "events2.parquet")
        q.processAllAvailable()
        # update mode appends one revised row per touched key per batch;
        # the latest (= max, counts are monotone) row per user is the total
        got = spark.sql(
            "SELECT user_id, max(n_events) AS n FROM stateful_out GROUP BY user_id"
        )
        batch = (
            load_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )
        assert n_batch1 > 0
        assert got.exceptAll(batch).count() == 0
        assert batch.exceptAll(got).count() == 0
    finally:
        q.stop()


def test_stream_stream_join_buffers_state_across_batches(spark, tmp_path):
    # a click arriving in micro-batch 1 must stay buffered in the join
    # state store until its purchase arrives in micro-batch 2: split the
    # event feed exactly at a known pair's purchase timestamp, feed the
    # two halves as separate batches, and check the emitted pair set
    # equals the batch join over the whole table
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    horizon = "480 minutes"
    events = load_table(spark, SF_DIR, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    batch_pairs = clicks.alias("l").join(
        purchases.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {horizon}")),
    )
    strict = batch_pairs.filter(F.col("r.ts") > F.col("l.ts"))
    assert strict.count() > 0, "fixture has no cross-timestamp pair to split on"
    boundary = strict.select(F.max("r.ts").alias("b")).collect()[0]["b"]

    src = tmp_path / "ssj_src"
    src.mkdir()
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    cut = pa.scalar(boundary, type=tbl.schema.field("ts").type)
    early = tbl.filter(pc.less(tbl["ts"], cut))
    late = tbl.filter(pc.greater_equal(tbl["ts"], cut))
    assert early.num_rows > 0 and late.num_rows > 0
    pq.write_table(early, src / "events.parquet")

    stream = stream_events(spark, str(src))
    out = stream_stream_join(
        stream.filter(F.col("event_type") == "click").withWatermark("ts", WATERMARK),
        stream.filter(F.col("event_type") == "purchase").withWatermark("ts", WATERMARK),
        "inner",
        horizon,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    try:
        q.processAllAvailable()
        pq.write_table(late, src / "events2.parquet")
        q.processAllAvailable()
        got = spark.sql("SELECT l_key, l_event_id, r_event_id FROM ssj_out")
        want = batch_pairs.select(
            F.col("l.user_id").alias("l_key"),
            F.col("l.event_id").alias("l_event_id"),
            F.col("r.event_id").alias("r_event_id"),
        )
        # the boundary pair itself spans the two batches
        crossed = got.join(
            strict.filter(F.col("r.ts") == boundary).select(
                F.col("l.event_id").alias("l_event_id")
            ),
            "l_event_id",
        )
        assert crossed.count() > 0, "no pair actually crossed the batch boundary"
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        q.stop()


def test_stateful_agg_recovers_state_across_restart(spark, tmp_path):
    # the state-store recovery property the converter restart test can't
    # exercise (its file sink is stateless): a windowed COUNT must
    # aggregate rows seen BEFORE a restart with rows seen after it —
    # i.e. the second run restores per-window state from the checkpoint
    # and resumes, rather than recounting or double-counting
    import glob

    src = tmp_path / "ev_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    batch = load_table(spark, SF_DIR, "events")
    half_a = batch.filter(F.col("event_id") % 2 == 0)
    half_b = batch.filter(F.col("event_id") % 2 == 1)

    def stage(df, name):
        # the file-stream source wants flat files in one dir (and the
        # schema probe wants one named events.parquet)
        tmp = str(tmp_path / f"_w_{name}")
        df.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    stage(half_a, "events.parquet")

    def run_once():
        stream = stream_events(spark, str(src))
        agg = tumbling_agg(stream)
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("restart_out")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_after_a = spark.sql("SELECT SUM(n) FROM restart_out").collect()[0][0]
    assert n_after_a == half_a.count()

    stage(half_b, "b.parquet")
    run_once()  # restart: must process ONLY b, merging into restored state
    got = spark.sql("SELECT window_start, event_type, n, sum_value FROM restart_out")
    expected = tumbling_agg(batch).select(
        "window_start", "event_type", "n", "sum_value"
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    # the negative Kappa case: rows arriving with event times older than
    # the watermark horizon must be DROPPED by the streaming aggregation
    # (append mode), while the batch twin would count them — this is the
    # boundedness contract that keeps streaming state finite
    import glob

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    batch = load_table(spark, SF_DIR, "events")
    t_max = batch.agg(F.max("ts")).collect()[0][0]
    on_time = batch
    # late file: everything shifted 10 days BEFORE the data's start, so
    # after batch 1 sets the watermark near t_max, batch 2's rows are
    # far behind the horizon
    late = batch.withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 100 DAYS")
    ).filter(F.col("event_id") % 10 == 0)

    def stage(df, name):
        tmp = str(tmp_path / f"_lw_{name}")
        df.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / name))

    stage(on_time, "events.parquet")

    out_dir = str(tmp_path / "late_out")

    def run_once():
        stream = stream_events(spark, str(src))
        agg = tumbling_agg(stream)
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def total():
        return (
            spark.read.parquet(out_dir)
            .agg(F.coalesce(F.sum("n"), F.lit(0)))
            .collect()[0][0]
        )

    run_once()
    n1 = total()
    stage(late, "late.parquet")
    run_once()
    n2 = total()
    # append mode emits each closed window once; the late rows fall in
    # windows already finalized far behind the watermark → contribute 0
    assert n2 == n1
    assert late.count() > 0  # the dropped data existed


def test_stream_cep_confirms_peaks_across_batches(spark, tmp_path):
    # the CEP suffix state must confirm a batch-1-final peak from the
    # FIRST batch-2 event: feed the events table split by TIME (so each
    # user's stream stays ordered across the boundary) and check the
    # summed per-type deltas equal the batch window query
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES
    from aws_vpcflowlogs_parquet_spark.streaming.windows import stream_cep_peaks

    src = tmp_path / "cep_src"
    src.mkdir()
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    ts = tbl.column("ts")
    cut = pc.quantile(ts.cast("int64"), q=0.5).to_pylist()[0]
    mask = pc.less(ts.cast("int64"), int(cut))
    pq.write_table(tbl.filter(mask), src / "events.parquet")
    stream = stream_events(spark, str(src))
    out = stream_cep_peaks(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("cep_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batch1 = spark.sql("SELECT count(*) AS n FROM cep_out").collect()[0]["n"]
        pq.write_table(tbl.filter(pc.invert(mask)), src / "events2.parquet")
        q.processAllAvailable()
        got = spark.sql(
            "SELECT event_type, CAST(sum(n_peaks) AS BIGINT) AS n_peaks"
            " FROM cep_out GROUP BY event_type"
        )
        batch = (
            QUERIES["q_cep_pattern"](spark, SF_DIR)
            .select("event_type", "n_peaks")
        )
        assert n_batch1 > 0  # batch 1 already confirms some peaks
        assert got.exceptAll(batch).count() == 0
        assert batch.exceptAll(got).count() == 0
    finally:
        q.stop()


def test_stream_cep_unbuffered_documents_late_row_miss(spark, tmp_path):
    # the O(1)-state CEP's stated PRECONDITION (windows.py docstring):
    # batch-equivalence requires per-key batch-monotone arrival. This
    # pins what happens when that precondition is VIOLATED: user 1's
    # true series (minute, value) is (0,1) (1,2) (2,5) (3,3) (4,4)
    # (5,6) (6,2); the minute-2 row, delivered a batch late (inside the
    # 30-minute watermark), is appended after the stored
    # suffix, so its true peak (1<2<5, next 3<5) is never evaluated in
    # order — the A peak is MISSED (and the out-of-order evaluation
    # creates no false positive either: 6,2,5 is not a rise-rise-peak).
    # If this test ever fails, the operator's ordering contract changed
    # and the docstring must change with it.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_vpcflowlogs_parquet_spark.streaming.windows import stream_cep_peaks

    base_us = 1_700_000_000_000_000

    def events_table(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base_us + r[1] * 60_000_000 for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([float(r[4]) for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )

    src = tmp_path / "cepu_src"
    src.mkdir()
    pq.write_table(
        events_table(
            [
                (10, 0, 1, "A", 1.0),
                (11, 1, 1, "A", 2.0),
                # minute-2 row missing — arrives late in file 2
                (13, 3, 1, "A", 3.0),
                (14, 4, 1, "B", 4.0),
                (15, 5, 1, "B", 6.0),
                (16, 6, 1, "A", 2.0),
                (90, 31, 99, "Z", 0.0),
            ]
        ),
        src / "events.parquet",
    )
    stream = stream_events(spark, str(src))
    out = stream_cep_peaks(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("cepu_out")
        .start()
    )
    try:
        q.processAllAvailable()
        pq.write_table(
            events_table([(12, 2, 1, "A", 5.0), (91, 37, 99, "Z", 0.0)]),
            src / "events2.parquet",
        )
        q.processAllAvailable()
        got = {
            (r.event_type, r.n_peaks)
            for r in spark.sql(
                "SELECT event_type, CAST(sum(n_peaks) AS BIGINT) AS n_peaks"
                " FROM cepu_out WHERE user_id = 1 GROUP BY event_type"
            ).collect()
        }
        # the in-order B peak (3<4<6, then 2) is found; the A peak whose
        # deciding row arrived late is missed — the precondition's cost.
        # The buffered twin recovers BOTH on this feed (test above).
        assert got == {("B", 1)}
    finally:
        q.stop()


def test_stream_outer_join_nulls_need_watermark_proof(spark, tmp_path):
    # the left-outer stream-stream join's defining semantic: an
    # unmatched left row emits its null row ONLY once the watermark
    # proves no right row can still match — end-of-stream alone proves
    # nothing, so without pusher batches the null row never appears,
    # and with a two-batch pusher cascade it does (watermarks advance
    # between batches: pusher-1's event time becomes the watermark the
    # pusher-2 batch runs with).
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_vpcflowlogs_parquet_spark.streaming.windows import (
        stream_stream_join,
    )

    base_us = 1_700_000_000_000_000

    def events_table(rows):
        # rows: (event_id, minute, user_id, event_type)
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

    def run(name, with_pushers):
        src = tmp_path / name
        src.mkdir()
        pq.write_table(
            events_table(
                [
                    (1, 0, 7, "purchase"),  # no click follows -> null row
                    (2, 1, 8, "purchase"),
                    (3, 2, 8, "click"),  # matches purchase 2
                ]
            ),
            src / "events.parquet",
        )
        if with_pushers:
            for i in (1, 2):
                pq.write_table(
                    events_table(
                        [
                            (-2 * i, 600 * i, -1, "purchase"),
                            (-2 * i - 1, 600 * i, -1, "click"),
                        ]
                    ),
                    src / f"zz_push_{i}.parquet",
                )

        def one_side(et):
            from aws_vpcflowlogs_parquet_spark.sources.tables import (
                convert_nanos_ts,
            )

            raw = (
                spark.readStream.schema(
                    spark.read.parquet(str(src / "events.parquet")).schema
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            return (
                convert_nanos_ts(raw)
                .withWatermark("ts", "10 minutes")
                .filter(F.col("event_type") == et)
            )

        joined = stream_stream_join(
            one_side("purchase"), one_side("click"), "left_outer", "10 minutes"
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.l_event_id, r.r_event_id)
            for r in spark.sql(
                f"SELECT l_event_id, r_event_id FROM {name}"
                " WHERE l_key >= 0"
            ).collect()
        }

    without = run("sjo_no_push", with_pushers=False)
    assert without == {(2, 3)}  # the match emits; the null row CANNOT
    with_p = run("sjo_push", with_pushers=True)
    assert with_p == {(2, 3), (1, None)}  # watermark proof flushes it
