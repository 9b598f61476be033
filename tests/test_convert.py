"""Converter round-trip + partition tests (reference TestWriteFile,
main_test.go:27-70, generalized) and event-discovery tests (main.go:87-135).
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.operators.convert import (
    convert_flowlogs,
    register_flowlog_table,
)
from aws_vpcflowlogs_parquet_spark.sources.events import targets_from_event
from aws_vpcflowlogs_parquet_spark.sources.flowlog import FlowLogParseError

HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)


def _mk_line(acct: str, start: int, sport: int = 1234) -> str:
    return (
        f"2 {acct} eni-70594239 10.0.2.2 10.0.4.8 {sport} 5245 17 6 965 "
        f"{start} {start + 420} ACCEPT OK"
    )


DAY1 = 1541375637  # 2018-11-04 UTC
DAY2 = 1541462037  # 2018-11-05 UTC


def test_round_trip_and_partition_set(spark, tmp_path):
    # multi-day/multi-account input → correct partition set (main.go:169-172)
    src = tmp_path / "in.log.gz"
    with gzip.open(src, "wt") as f:
        f.write(
            "\n".join(
                [
                    HEADER,
                    _mk_line("111111111111", DAY1),
                    _mk_line("111111111111", DAY1, 5678),
                    _mk_line("111111111111", DAY2),
                    _mk_line("222222222222", DAY2),
                ]
            )
        )
    out = tmp_path / "out"
    keys = convert_flowlogs(spark, str(src), str(out))
    # (dt, account, src): every key of the one source file carries its src
    assert [k[:2] for k in keys] == [
        ("2018-11-04", "111111111111"),
        ("2018-11-05", "111111111111"),
        ("2018-11-05", "222222222222"),
    ]
    assert len({k[2] for k in keys}) == 1
    back = spark.read.parquet(str(out))
    assert back.count() == 4
    # partition columns usable for pruning; data columns intact
    assert back.filter(F.col("dt") == "2018-11-04").count() == 2
    assert back.filter(F.col("account") == "222222222222").count() == 1
    assert dict(back.dtypes)["start_ts"] == "bigint"
    assert dict(back.dtypes)["end_ts"] == "bigint"  # not the Glue int bug


def test_idempotent_partition_overwrite(spark, tmp_path):
    # re-running the same source must not duplicate rows (reference achieves
    # this via deterministic output keys, convert.go:86; we use dynamic
    # partition overwrite)
    src = tmp_path / "in.log"
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    out = tmp_path / "out"
    convert_flowlogs(spark, str(src), str(out))
    convert_flowlogs(spark, str(src), str(out))
    assert spark.read.parquet(str(out)).count() == 1


def test_catalog_registration(spark, tmp_path):
    src = tmp_path / "in.log"
    src.write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(src), str(out))
    register_flowlog_table(spark, "flowlogs_test", str(out), partitions=keys)
    try:
        got = spark.sql(
            "SELECT account, count(*) AS n FROM flowlogs_test "
            "WHERE dt = '2018-11-04' GROUP BY account"
        ).collect()
        assert [(r["account"], r["n"]) for r in got] == [("111111111111", 1)]
        parts = spark.sql("SHOW PARTITIONS flowlogs_test").count()
        assert parts == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_test")


def test_registered_table_schema_is_the_flow_schema(spark, tmp_path):
    # the CREATE TABLE column list is built from schema.FLOW_SCHEMA, the
    # parser's types; the partition columns are strings
    from pyspark.sql import types as T

    from aws_vpcflowlogs_parquet_spark.schema import FLOW_SCHEMA, PARTITION_COLUMNS

    try:
        register_flowlog_table(spark, "flowlogs_schema_test", str(tmp_path / "tbl"), partitions=[])
        got = spark.table("flowlogs_schema_test").schema
        want = T.StructType(
            [*FLOW_SCHEMA, *(T.StructField(c, T.StringType(), True) for c in PARTITION_COLUMNS)]
        )
        assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in want]
        assert PARTITION_COLUMNS == ["dt", "account", "src"]
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_schema_test")


def test_run_event_registers_an_account_with_a_quote(spark, tmp_path):
    # accountid comes from the log line: a quote (or backslash) in it is
    # escaped in the partition DDL, and the event's other keys, which the
    # same ALTER TABLE registers, are not lost with it
    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    odd = ["12'34", "56\\78"]
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, *(_mk_line(a, DAY1) for a in odd), _mk_line("111111111111", DAY2)])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(dst_path=str(tmp_path / "warehouse"), table="flowlogs_quote_test")
    try:
        keys = run_event(spark, event, cfg)
        assert sorted(k[1] for k in keys) == sorted(["111111111111", *odd])
        assert spark.sql("SHOW PARTITIONS flowlogs_quote_test").count() == 3
        got = spark.sql(
            "SELECT account, dt, count(*) AS n FROM flowlogs_quote_test "
            "GROUP BY account, dt ORDER BY account"
        ).collect()
        assert [tuple(r) for r in got] == sorted(
            [("111111111111", "2018-11-05", 1), *((a, "2018-11-04", 1) for a in odd)]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_quote_test")


def test_targets_from_s3_event():
    event = {
        "Records": [
            {
                "awsRegion": "ap-northeast-1",
                "s3": {"bucket": {"name": "b1"}, "object": {"key": "logs/x.gz"}},
            },
            {"unsupported": True},
        ]
    }
    ts = targets_from_event(event)
    assert len(ts) == 1  # unsupported record skipped, not an error
    assert ts[0].bucket == "b1" and ts[0].key == "logs/x.gz"
    assert ts[0].path == "s3a://b1/logs/x.gz"


def test_targets_from_sns_wrapped_event():
    inner = {
        "Records": [
            {"s3": {"bucket": {"name": "b2"}, "object": {"key": "k2"}}}
        ]
    }
    event = {"Records": [{"Sns": {"Message": json.dumps(inner)}}]}
    ts = targets_from_event(event)
    assert [(t.bucket, t.key) for t in ts] == [("b2", "k2")]


def test_targets_bad_sns_message_skipped():
    event = {"Records": [{"Sns": {"Message": "not json"}}]}
    assert targets_from_event(event) == []


def test_strict_raises_single_pass_and_writes_valid_rows(spark, tmp_path):
    # single-pass strict (observe-based): the malformed-line verdict rides
    # the write job; error raised AFTER the write, valid rows persisted,
    # re-run of corrected input overwrites idempotently
    import pytest

    from aws_vpcflowlogs_parquet_spark.sources.flowlog import FlowLogParseError

    src = tmp_path / "in.log"
    src.write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), "2 too few tokens"])
    )
    out = tmp_path / "out"
    with pytest.raises(FlowLogParseError, match="1 malformed"):
        convert_flowlogs(spark, str(src), str(out), strict=True)
    assert spark.read.parquet(str(out)).count() == 1
    # corrected input converges to the same single row
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    keys = convert_flowlogs(spark, str(src), str(out), strict=True)
    assert [k[:2] for k in keys] == [("2018-11-04", "111111111111")]
    assert spark.read.parquet(str(out)).count() == 1


def test_observed_parse_plan_has_collect_metrics_single_scan(spark, tmp_path):
    # the validity counter is a CollectMetrics node inside the one plan —
    # no separate validation scan of the source
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import (
        parse_flowlog_lines_observed,
    )

    src = tmp_path / "in.log"
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    parsed, _obs = parse_flowlog_lines_observed(spark.read.text(str(src)))
    plan = parsed._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan
    assert plan.count("Relation") == 1  # exactly one source scan


def test_src_partition_preserves_sibling_source_files(spark, tmp_path):
    # R14 per-source-file idempotence (reference convert.go:86): two source
    # files land in the same (dt, account); re-converting one must not drop
    # the other's rows and must not duplicate its own
    f1 = tmp_path / "a.log"
    f2 = tmp_path / "b.log"
    f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1, 1111)]))
    f2.write_text(
        "\n".join(
            [HEADER, _mk_line("111111111111", DAY1, 2222), _mk_line("111111111111", DAY1, 3333)]
        )
    )
    out = tmp_path / "out"
    convert_flowlogs(spark, str(f1), str(out))
    convert_flowlogs(spark, str(f2), str(out))
    assert spark.read.parquet(str(out)).count() == 3
    # re-run of f1 alone: sibling f2 rows intact, no duplicates
    convert_flowlogs(spark, str(f1), str(out))
    back = spark.read.parquet(str(out))
    assert back.count() == 3
    assert back.filter(F.col("srcport") == 1111).count() == 1
    # dt/account pruning still works through the extra src level
    assert back.filter(F.col("dt") == "2018-11-04").count() == 3


def test_src_partitioned_registration_full_spec(spark, tmp_path):
    # ADVICE r2 (medium): a table partitioned (dt, account, src) rejects
    # 2-level ALTER TABLE specs, so convert_flowlogs returns 3-tuples and
    # register_flowlog_table emits full specs
    f1 = tmp_path / "a.log"
    f1.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(f1), str(out))
    assert len(keys) == 1 and len(keys[0]) == 3
    assert keys[0][:2] == ("2018-11-04", "111111111111")
    register_flowlog_table(spark, "flowlogs_src_test", str(out), partitions=keys)
    try:
        got = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_src_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert got == 1
        assert spark.sql("SHOW PARTITIONS flowlogs_src_test").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_src_test")


def test_run_event_src_partitioned_registers(spark, tmp_path):
    # handler.run_event on the (dt, account, src) table previously died on
    # the partial-spec DDL after a successful write (ADVICE r2)
    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1)])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(dst_path=str(tmp_path / "warehouse"), table="flowlogs_srcrun_test")
    try:
        keys = run_event(spark, event, cfg)
        assert len(keys) == 1 and len(keys[0]) == 3
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_srcrun_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_srcrun_test")


def test_strict_failure_still_registers_written_partitions(spark, tmp_path):
    # ADVICE r2 (low): single-pass strict raises after the write; the valid
    # rows of the failing batch must not be left unregistered/invisible
    import pytest

    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import FlowLogParseError

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), "2 bad line"])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(
        dst_path=str(tmp_path / "warehouse"), table="flowlogs_strict_test"
    )
    try:
        with pytest.raises(FlowLogParseError, match="1 malformed"):
            run_event(spark, event, cfg)
        # the partial (valid-row) state is catalog-visible, not stranded
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_strict_test WHERE dt='2018-11-04'"
        ).collect()[0]["n"]
        assert n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_strict_test")


def test_msck_registers_many_partitions(spark, tmp_path):
    # VERDICT r2 item 7: the partitions=None MSCK path exercised at scale —
    # ≥100 Hive-layout partition directories recovered in one statement
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "tbl"
    accounts = [f"{i:012d}" for i in range(4)]
    days = [f"2018-11-{d:02d}" for d in range(1, 27)]
    tbl = pa.table(
        {
            "version": pa.array([2], pa.int32()),
            "accountid": pa.array(["x"], pa.string()),
            "interfaceid": pa.array(["eni-1"], pa.string()),
            "srcaddr": pa.array(["10.0.0.1"], pa.string()),
            "dstaddr": pa.array(["10.0.0.2"], pa.string()),
            "srcport": pa.array([1], pa.int32()),
            "dstport": pa.array([2], pa.int32()),
            "protocol": pa.array([6], pa.int32()),
            "packets": pa.array([1], pa.int32()),
            "bytes": pa.array([1], pa.int32()),
            "start_ts": pa.array([DAY1], pa.int64()),
            "end_ts": pa.array([DAY1 + 60], pa.int64()),
            "action": pa.array(["ACCEPT"], pa.string()),
            "logstatus": pa.array(["OK"], pa.string()),
        }
    )
    for dt in days:
        for acct in accounts:
            leaf = root / f"dt={dt}" / f"account={acct}" / "src=000000000000"
            leaf.mkdir(parents=True)
            pq.write_table(tbl, leaf / "part-0.parquet")
    register_flowlog_table(spark, "flowlogs_msck_test", str(root), partitions=None)
    try:
        n_parts = spark.sql("SHOW PARTITIONS flowlogs_msck_test").count()
        assert n_parts == len(days) * len(accounts) == 104
        n = spark.sql("SELECT count(*) AS n FROM flowlogs_msck_test").collect()[0]["n"]
        assert n == 104
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_msck_test")


def test_object_store_scheme_round_trip(spark, tmp_path):
    # Hermetic non-local-FS round-trip (VERDICT r2 item 6; reference
    # main_test.go:136-159 runs the same flow against live S3). No AWS in
    # the sandbox, so the closest real thing: Hadoop's ViewFileSystem — a
    # genuinely different FS scheme (viewfs://) with its own URI
    # resolution, mount-table indirection, and FileSystem implementation
    # — mounted over a local directory. Everything the engine does with
    # paths (write partitioned parquet, dynamic overwrite, partition
    # discovery, catalog LOCATION, query-back) runs through the non-local
    # scheme end to end. S3 multipart-upload semantics (main.go:221-238)
    # remain untestable here and are covered by the S3A committer in
    # production — documented divergence.
    import py4j.protocol
    import pytest

    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event

    mount_root = tmp_path / "viewfs_root"
    mount_root.mkdir()
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.testcluster.link./warehouse",
        mount_root.as_uri(),
    )
    dst = "viewfs://testcluster/warehouse"
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(dst), hconf
        )
    except py4j.protocol.Py4JJavaError as e:  # pragma: no cover
        pytest.skip(f"ViewFileSystem unavailable in bundled Hadoop: {e}")

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(dst_path=dst, table="flowlogs_viewfs_test")
    try:
        keys = run_event(spark, event, cfg)
        assert [k[:2] for k in keys] == [
            ("2018-11-04", "111111111111"),
            ("2018-11-05", "222222222222"),
        ]
        # data physically landed under the mount target in Hive layout
        leaf = mount_root / "dt=2018-11-04" / "account=111111111111" / f"src={keys[0][2]}"
        assert leaf.exists()
        # query-back goes through the viewfs:// LOCATION
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_viewfs_test WHERE dt='2018-11-05'"
        ).collect()[0]["n"]
        assert n == 1
        # idempotent re-run through the non-local scheme (dynamic
        # partition overwrite must resolve paths via the mount table)
        run_event(spark, event, cfg)
        assert spark.read.parquet(dst).count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_viewfs_test")


def test_run_event_end_to_end(spark, tmp_path):
    # the reference Lambda handler surface (main.go:67-85): SNS-wrapped S3
    # event → convert → registered, queryable table
    import json as _json

    from aws_vpcflowlogs_parquet_spark.handler import (
        config_from_env,
        run_event,
    )

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    inner = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    event = {"Records": [{"Sns": {"Message": _json.dumps(inner)}}]}
    cfg = config_from_env(
        {"S3_BUCKET": str(tmp_path / "warehouse"), "ATHENA_TABLE_NAME": "flowlogs_h_test"}
    )
    try:
        keys = run_event(spark, event, cfg)
        # (dt, account, src): the env-bound handler partitions by source
        # object, and both keys come from the one object x.log
        assert [k[:2] for k in keys] == [
            ("2018-11-04", "111111111111"),
            ("2018-11-05", "222222222222"),
        ]
        assert all(len(k) == 3 for k in keys) and len({k[2] for k in keys}) == 1
        n = spark.sql(
            "SELECT count(*) AS n FROM flowlogs_h_test WHERE dt='2018-11-05'"
        ).collect()[0]["n"]
        assert n == 1
        # empty / uninterpretable event: no-op, not an error (main.go:119-123)
        assert run_event(spark, {"Records": [{"nope": 1}]}, cfg) == []
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_h_test")


def _parquet_files(root):
    return sorted(p.relative_to(root) for p in root.rglob("*.parquet")) if root.exists() else []


@pytest.mark.parametrize("gzipped", [False, True])
def test_header_only_object_writes_nothing(spark, tmp_path, gzipped):
    # an object with no data rows used to crash reading the key-set
    # observation (AQE dropped the empty shuffle stage and the
    # CollectMetrics node with it); it must be a clean no-op that leaves
    # earlier output intact
    out = tmp_path / "out"
    full = tmp_path / "full.log"
    full.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    convert_flowlogs(spark, str(full), str(out))
    before = _parquet_files(out)
    empty = tmp_path / ("empty.log.gz" if gzipped else "empty.log")
    with (gzip.open if gzipped else open)(empty, "wt") as f:
        f.write(HEADER + "\n")
    assert convert_flowlogs(spark, str(empty), str(out)) == []
    assert _parquet_files(out) == before
    assert spark.read.parquet(str(out)).count() == 1


@pytest.mark.parametrize("gzipped", [False, True])
def test_all_malformed_strict_raises_parse_error(spark, tmp_path, gzipped):
    src = tmp_path / ("bad.log.gz" if gzipped else "bad.log")
    with (gzip.open if gzipped else open)(src, "wt") as f:
        f.write("\n".join([HEADER, "2 too few tokens", "3 also bad"]))
    out = tmp_path / "out"
    with pytest.raises(FlowLogParseError, match="2 malformed") as err:
        convert_flowlogs(spark, str(src), str(out), strict=True)
    assert err.value.partition_keys == []
    assert _parquet_files(out) == []


def test_run_event_header_only_registers_nothing(spark, tmp_path):
    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig, run_event

    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    (bucket / "logs" / "x.log").write_text(HEADER + "\n")
    event = {
        "Records": [
            {"s3": {"bucket": {"name": str(bucket)}, "object": {"key": "logs/x.log"}}}
        ]
    }
    cfg = HandlerConfig(dst_path=str(tmp_path / "warehouse"), table="flowlogs_empty_test")
    try:
        assert run_event(spark, event, cfg) == []
        assert _parquet_files(tmp_path / "warehouse") == []
        assert not spark.catalog.tableExists("flowlogs_empty_test")
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_empty_test")


def test_handler_config_rejects_the_two_level_layout():
    from aws_vpcflowlogs_parquet_spark.handler import HandlerConfig

    with pytest.raises(ValueError, match="2-level"):
        HandlerConfig(dst_path="out", src_partition=False)
    assert HandlerConfig(dst_path="out").src_partition is True


class _StatementLog:
    """Session stand-in that records each SQL statement it forwards."""

    def __init__(self, spark):
        self.spark = spark
        self.statements = []

    def sql(self, query):
        self.statements.append(query)
        return self.spark.sql(query)


def test_register_batches_new_existing_and_located_keys(spark, tmp_path):
    # one call registers already-registered and new (dt, account, src)
    # keys, each located by the Hive layout under the table root, in a
    # single ALTER TABLE; an identical call is a no-op
    src = tmp_path / "in.log"
    src.write_text(
        "\n".join([HEADER, _mk_line("111111111111", DAY1), _mk_line("222222222222", DAY2)])
    )
    other = tmp_path / "other.log"
    other.write_text("\n".join([HEADER, _mk_line("333333333333", DAY1, 7777)]))
    out = tmp_path / "tbl"
    keys = convert_flowlogs(spark, str(src), str(out))
    keys += convert_flowlogs(spark, str(other), str(out))
    table = "flowlogs_batch_test"
    try:
        register_flowlog_table(spark, table, str(out), partitions=keys[:1])
        log = _StatementLog(spark)
        register_flowlog_table(log, table, str(out), partitions=keys)
        alters = [q for q in log.statements if q.startswith("ALTER TABLE")]
        assert len(alters) == 1 and alters[0].count("PARTITION (") == 3
        parts = sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect())
        assert parts == sorted("dt={}/account={}/src={}".format(*k) for k in keys)
        assert [p.rsplit("/src=", 1)[0] for p in parts] == [
            "dt=2018-11-04/account=111111111111",
            "dt=2018-11-04/account=333333333333",
            "dt=2018-11-05/account=222222222222",
        ]
        got = spark.sql(f"SELECT account, srcport FROM {table} WHERE dt='2018-11-04'").collect()
        assert sorted((r["account"], r["srcport"]) for r in got) == [
            ("111111111111", 1234),
            ("333333333333", 7777),
        ]
        register_flowlog_table(spark, table, str(out), partitions=keys)
        assert sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()) == parts
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_src_partition_writes_one_file_per_key(spark, tmp_path):
    # without the pre-write shuffle, each gzip object is one read task and
    # src hashes the object, so each dt=/account=/src= directory holds
    # exactly one file
    srcs = []
    for i, sport in enumerate([1000, 2000, 3000]):
        p = tmp_path / f"obj{i}.log.gz"
        with gzip.open(p, "wt") as f:
            f.write(
                "\n".join(
                    [HEADER]
                    + [
                        _mk_line(acct, day, sport + j)
                        for j in range(20)
                        for acct in ("111111111111", "222222222222")
                        for day in (DAY1, DAY2)
                    ]
                )
            )
        srcs.append(str(p))
    out = tmp_path / "out"
    keys = convert_flowlogs(spark, srcs, str(out))
    assert len(keys) == 3 * 2 * 2
    leaves = [out / f"dt={dt}" / f"account={acct}" / f"src={src}" for dt, acct, src in keys]
    assert {p.parent for p in out.rglob("*.parquet")} == set(leaves)
    for leaf in leaves:
        assert len(list(leaf.glob("*.parquet"))) == 1, leaf
    assert spark.read.parquet(str(out)).count() == 3 * 20 * 2 * 2


def test_ingest_plan_build_py4j_bound(spark, tmp_path):
    # building the parse + partition-key plan is a handful of projection
    # lists, not one JVM round trip per F.* call (about 1,400 before);
    # counted the way the benchmark's layer counter does, at the
    # gateway client's send_command
    from aws_vpcflowlogs_parquet_spark.operators.convert import (
        observe_partition_keys,
        table_rows,
    )
    from aws_vpcflowlogs_parquet_spark.sources.flowlog import parse_flowlog_lines_observed

    src = tmp_path / "in.log"
    src.write_text("\n".join([HEADER, _mk_line("111111111111", DAY1)]))
    lines = spark.read.text(str(src))
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls = []

    def send_command(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    client.send_command = send_command
    try:
        parsed, _ = parse_flowlog_lines_observed(lines)
        observe_partition_keys(table_rows(parsed))
    finally:
        del client.send_command
    assert 0 < len(calls) <= 300
