"""State-partition sizing of the streaming harness (streaming/harness.py):
the count is derived from the bytes of the staged source directory the
harness is handed, at ~1 MiB per partition above a floor and capped at
the core count."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from aws_vpcflowlogs_parquet_spark.sources.tables import stream_events
from aws_vpcflowlogs_parquet_spark.streaming import harness as H

from .conftest import SF_DIR

_DATA = os.path.dirname(SF_DIR)
SF01 = f"{_DATA}/sf0.1"
SCALES = [SF_DIR, f"{_DATA}/sf0.01", SF01]
FLOORS = (2, 6)
CORES = (1, 3, 4, 8, 32)
MIB = 1024 * 1024


def _events_rule(sf_dir, floor, cores):
    # the same rule applied to the sf_dir's events.parquet alone
    n = os.path.getsize(f"{sf_dir}/events.parquet")
    return min(cores, max(floor, n // MIB))


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, n)) for n in os.listdir(d))


@pytest.mark.parametrize("sf_dir", SCALES)
def test_plain_sentinel_late_sources_keep_the_events_parquet_count(sf_dir):
    dirs = {
        "plain": H.staged_events_dir(sf_dir),
        "sentinel": H.sentinel_staged_events_dir(sf_dir),
        "late": H.late_staged_events_dir(sf_dir)[0],
    }
    for layout, d in dirs.items():
        for floor in FLOORS:
            for cores in CORES:
                assert H.state_partitions(d, floor, cores) == _events_rule(
                    sf_dir, floor, cores
                ), (layout, floor, cores)


@pytest.mark.parametrize("sf_dir", SCALES)
def test_dup_source_is_sized_by_its_staged_bytes(sf_dir):
    d = H.dup_staged_events_dir(sf_dir)
    staged = _dir_bytes(d)
    # the original plus a full time-shifted copy
    assert staged > 1.9 * os.path.getsize(f"{sf_dir}/events.parquet")
    for floor in FLOORS:
        for cores in CORES:
            assert H.state_partitions(d, floor, cores) == min(
                cores, max(floor, staged // MIB)
            ), (floor, cores)


def test_dup_source_at_sf01_outgrows_the_floor():
    # 4.09 MB staged: 3 partitions where events.parquet alone gives 2
    d = H.dup_staged_events_dir(SF01)
    assert H.state_partitions(d, 2, 32) == 3
    assert H.state_partitions(d, 2, 2) == 2
    assert _events_rule(SF01, 2, 32) == 2


def test_run_creates_the_derived_number_of_state_partitions(spark):
    # an end-to-end pin that the harness applies state_partitions: the
    # checkpoint holds one state directory per partition
    src_dir = H.staged_events_dir(SF_DIR)
    counts = stream_events(spark, src_dir).groupBy("user_id").count()
    out = H.run_stream_to_parquet(
        spark, counts, src_dir, "t_state_parts", mode="complete", state_parts=3
    )
    users = pq.read_table(f"{SF_DIR}/events.parquet", columns=["user_id"])
    assert out.count() == len(set(users.column("user_id").to_pylist()))
    ckpt = next(
        p
        for p in reversed(H._STREAM_TMPDIRS)
        if os.path.basename(p).startswith("t_state_parts_ckpt_")
    )
    parts = os.listdir(f"{ckpt}/state/0")
    want = H.state_partitions(
        src_dir, 3, spark.sparkContext.defaultParallelism
    )
    assert len([p for p in parts if p.isdigit()]) == want
