"""CLI surface tests: the python -m entry must drive the library paths
end to end (the operational twin of the reference's Lambda binary)."""

from __future__ import annotations

import gzip
import json

import pytest

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
    assert "2018-11-04/111111111111" in capsys.readouterr().out
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
    assert "2018-11-04/111111111111" in capsys.readouterr().out
    assert spark.read.parquet(dst).count() == 1


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
