"""Round-8 streaming-harness pins: the single-sentinel + no-data-batch
outer-join staging (replacing the 3-batch maxFilesPerTrigger design),
footer-stats max(ts), and the shared/cleaned temp-dir machinery."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.streaming import harness as H
from aws_vpcflowlogs_parquet_spark.sources.tables import convert_nanos_ts
from aws_vpcflowlogs_parquet_spark.streaming.windows import (
    stream_stream_join,
)


def _events_table(rows):
    # rows: (event_id, minute, user_id, event_type)
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


def test_single_sentinel_nodata_batch_flushes_both_null_classes(
    spark, tmp_path
):
    """ONE dual-type pusher file in the SAME micro-batch as the data is
    enough for a terminating full-outer join: the watermark advances
    after the data batch, and the availableNow no-data finalization
    batch evaluates state eviction under the raised watermark and emits
    both orphan classes. This is the q_stream_join_outer /
    q_stream_join_full_outer staging, pinned at fixture scale."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        _events_table(
            [
                (1, 0, 7, "purchase"),  # no click follows -> left orphan
                (2, 1, 8, "purchase"),
                (3, 2, 8, "click"),  # matches purchase 2
                (4, 3, 9, "click"),  # no purchase precedes -> right orphan
            ]
        ),
        src / "events.parquet",
    )
    # one sentinel, both types, 600 min past the data (>> 10 min horizon)
    pq.write_table(
        _events_table([(-2, 600, -1, "purchase"), (-3, 600, -1, "click")]),
        src / "zz_sentinel.parquet",
    )

    def one_side(et):
        raw = spark.readStream.schema(
            spark.read.parquet(str(src / "events.parquet")).schema
        ).parquet(str(src))
        return (
            convert_nanos_ts(raw)
            .withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == et)
        )

    joined = stream_stream_join(
        one_side("purchase"), one_side("click"), "full_outer", "10 minutes"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("r8_single_sentinel")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.sql(
            "SELECT l_event_id, r_event_id FROM r8_single_sentinel"
            " WHERE COALESCE(l_key, r_key) >= 0"
        ).collect()
    }
    assert got == {(2, 3), (1, None), (None, 4)}
    # and it really was one data batch + the no-data finalization batch
    batch_ids = [p.batchId for p in q.recentProgress]
    assert len(batch_ids) <= 2


def test_parquet_max_ts_reads_footer_stats_only(tmp_path):
    p = str(tmp_path / "ev.parquet")
    t = _events_table(
        [(1, 0, 1, "click"), (2, 123, 2, "purchase"), (3, 77, 3, "click")]
    )
    pq.write_table(t, p, row_group_size=2)  # force multiple row groups
    got = H.parquet_max_ts(p)
    want = datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=1_700_000_000_000_000 + 123 * 60_000_000
    )
    assert got == want


def test_staged_dirs_cached_and_registered_for_cleanup(spark):
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    a = H.staged_events_dir(sf)
    b = H.staged_events_dir(sf)
    assert a == b, "plain staged dir must be cached per sf_dir"
    s1 = H.sentinel_staged_events_dir(sf)
    s2 = H.sentinel_staged_events_dir(sf)
    assert s1 == s2 and s1 != a, "sentinel dir cached and SEPARATE"
    # exactly one sentinel file beside the symlink, rows filtered by key
    files = sorted(os.listdir(s1))
    assert files == ["events.parquet", "zz_sentinel.parquet"]
    sent = pq.read_table(f"{s1}/zz_sentinel.parquet")
    assert set(sent["user_id"].to_pylist()) == {-1}
    assert set(sent["event_type"].to_pylist()) == {"purchase", "click"}
    # both dirs are registered for process-exit removal
    assert a in H._STREAM_TMPDIRS and s1 in H._STREAM_TMPDIRS
