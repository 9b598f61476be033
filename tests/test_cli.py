"""CLI surface tests: the python -m entry must drive the library paths
end to end (the operational twin of the reference's Lambda binary)."""

from __future__ import annotations

import gzip
import json

import pytest

from aws_vpcflowlogs_parquet_spark import observability
from aws_vpcflowlogs_parquet_spark.__main__ import main
from aws_vpcflowlogs_parquet_spark.sources.flowlog import FlowLogParseError

from .conftest import SF_DIR

HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)
LINE = (
    "2 111111111111 eni-1 10.0.2.2 10.0.4.8 20641 5245 17 6 965 "
    "1541375637 1541376057 ACCEPT OK"
)


def test_cli_convert_and_register(spark, tmp_path, capsys):
    src = tmp_path / "a.log.gz"
    with gzip.open(src, "wt") as f:
        f.write("\n".join([HEADER, LINE]))
    dst = str(tmp_path / "out")
    rc = main(["convert", "--src", str(src), "--dst", dst])
    assert rc == 0
    keys = [l for l in capsys.readouterr().out.splitlines() if l.startswith("dt=")]
    assert len(keys) == 1 and keys[0].startswith("dt=2018-11-04/account=111111111111/src=")
    rc = main(["register", "--table", "flowlogs_cli_test", "--path", dst])
    assert rc == 0
    try:
        assert (
            spark.sql("SELECT count(*) AS n FROM flowlogs_cli_test").collect()[0]["n"]
            == 1
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_cli_test")


def test_cli_convert_is_strict_by_default(spark, tmp_path, capsys):
    # the CLI shares convert_flowlogs' strict default: a malformed line
    # fails the run unless --no-strict asks for the lenient drop
    src = tmp_path / "bad.log"
    src.write_text("\n".join([HEADER, LINE, "2 too short"]))
    with pytest.raises(FlowLogParseError, match="malformed flow log line"):
        main(["convert", "--src", str(src), "--dst", str(tmp_path / "strict")])
    dst = str(tmp_path / "lenient")
    assert main(["convert", "--src", str(src), "--dst", dst, "--no-strict"]) == 0
    assert "dt=2018-11-04/account=111111111111/src=" in capsys.readouterr().out
    assert spark.read.parquet(dst).count() == 1


def test_cli_event_keeps_every_object_of_a_partition(spark, tmp_path, capsys, monkeypatch):
    # two S3 events, one object each, both landing in the same (dt,
    # account): the second event's overwrite must not drop the first
    # object's row (per-source-object idempotence, convert.go:86)
    bucket = tmp_path / "bucket"
    (bucket / "logs").mkdir(parents=True)
    monkeypatch.setenv("S3_BUCKET", str(tmp_path / "warehouse"))
    monkeypatch.setenv("ATHENA_TABLE_NAME", "flowlogs_cli_event_test")
    printed = []
    try:
        for name, sport in (("a.log", "20641"), ("b.log", "20642")):
            (bucket / "logs" / name).write_text("\n".join([HEADER, LINE.replace("20641", sport)]))
            event = tmp_path / f"{name}.json"
            event.write_text(json.dumps({"Records": [{"s3": {
                "bucket": {"name": str(bucket)}, "object": {"key": f"logs/{name}"},
            }}]}))
            assert main(["event", str(event)]) == 0
            printed += capsys.readouterr().out.splitlines()
        ports = spark.sql(
            "SELECT srcport FROM flowlogs_cli_event_test"
            " WHERE dt='2018-11-04' AND account='111111111111'"
        ).collect()
        assert sorted(r["srcport"] for r in ports) == [20641, 20642]
        keys = [l for l in printed if l.startswith("dt=")]
        assert len(keys) == 2 and len(set(keys)) == 2, printed
        assert all(l.startswith("dt=2018-11-04/account=111111111111/src=") for l in keys)
    finally:
        spark.sql("DROP TABLE IF EXISTS flowlogs_cli_event_test")


def test_cli_query_and_profile(capsys):
    rc = main(["query", "q_topk", "--sf", SF_DIR, "--limit", "3"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(lines) == 3
    json.loads(lines[0])

    rc = main(["profile", "q_topk", "--sf", SF_DIR])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    digest = json.loads(out[-1])
    assert digest["rows_out"] == 10


def _digests(capsys) -> list[dict]:
    out = capsys.readouterr().out.splitlines()
    return [json.loads(l) for l in out if l.startswith("{")]


def test_cli_profile_digests_build_jobs_operators_and_streams(capsys):
    rc = main(["profile", "q_topk", "q_kcore", "q_stream_stateful", "--sf", SF_DIR])
    assert rc == 0
    topk, kcore, stateful = _digests(capsys)
    for d in (topk, kcore, stateful):
        assert d["build_s"] >= 0 and d["jobs"] >= 1 and d["operators"], d
    assert [d["query"] for d in (topk, kcore, stateful)] == [
        "q_topk", "q_kcore", "q_stream_stateful"
    ]
    # kcore's peeling rounds each checkpoint: more jobs than a single top-k
    assert kcore["jobs"] > topk["jobs"], (kcore["jobs"], topk["jobs"])
    # only the stream reports micro-batches, and its batches read input
    assert topk["streams"] == [] and kcore["streams"] == []
    assert stateful["streams"], stateful
    assert sum(b["numInputRows"] for b in stateful["streams"]) > 0
    assert all("stateOperators" in b for b in stateful["streams"])


def test_cli_profile_exits_1_when_a_query_spills(capsys, monkeypatch):
    real = observability.profile
    monkeypatch.setattr(
        observability, "profile", lambda df: {**real(df), "spill_bytes": 1}
    )
    assert main(["profile", "q_topk", "--sf", SF_DIR]) == 1
    assert len(_digests(capsys)) == 1
