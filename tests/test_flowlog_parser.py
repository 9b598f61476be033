"""Parser golden-value + edge-semantic tests.

Mirrors the reference's TestParse (main_test.go:72-104) field-by-field on
the sample1.log fixture rows, plus the edge semantics SURVEY §5 calls out:
header skip (flowlog.go:42-44), arity rejection (flowlog.go:36-40), version
gate (flowlog.go:46-48), '-' → 0 zero-default casts (flowlog.go:59-90).
"""

from __future__ import annotations

import pytest

from aws_vpcflowlogs_parquet_spark.sources.flowlog import (
    FlowLogParseError,
    parse_flowlog_lines,
    parse_flowlog_lines_observed,
    raise_if_malformed,
)

HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)
# verbatim shape of reference samples/sample1.log rows 2-3
ROW1 = "2 123456789000 eni-70594239 10.0.2.2 10.0.4.8 1234 5245 17 6 965 1541375637 1541376057 ACCEPT OK"
ROW2 = "2 123456789000 eni-70594239 10.0.2.2 10.0.0.15 5678 2346 17 3 553 1541375637 1541376057 ACCEPT OK"
NODATA = "2 999456789000 eni-00000001 - - - - - - - 1541462037 1541462097 - NODATA"


def _lines_df(spark, lines):
    return spark.createDataFrame([(x,) for x in lines], "value string")


def _strict_rows(lines_df):
    """The strict contract as convert_flowlogs runs it: one action over
    the observed parse, then the malformed-line verdict."""
    parsed, obs = parse_flowlog_lines_observed(lines_df)
    rows = parsed.collect()
    raise_if_malformed(obs)
    return rows


def test_golden_values(spark):
    # field-by-field asserts mirroring main_test.go:90-103
    rows = (
        parse_flowlog_lines(_lines_df(spark, [HEADER, ROW1, ROW2]))
        .orderBy("srcport")
        .collect()
    )
    assert len(rows) == 2
    r = rows[0].asDict()
    assert r["version"] == 2
    assert r["accountid"] == "123456789000"
    assert r["interfaceid"] == "eni-70594239"
    assert r["srcaddr"] == "10.0.2.2"
    assert r["dstaddr"] == "10.0.4.8"
    assert r["srcport"] == 1234
    assert r["dstport"] == 5245
    assert r["protocol"] == 17
    assert r["packets"] == 6
    assert r["bytes"] == 965
    assert r["start_ts"] == 1541375637
    assert r["end_ts"] == 1541376057
    assert r["action"] == "ACCEPT"
    assert r["logstatus"] == "OK"
    # derived event time (flowlog.go:86), UTC
    assert str(r["start_time"]) == "2018-11-04 23:53:57"


def test_header_skipped_silently(spark):
    assert len(_strict_rows(_lines_df(spark, [HEADER, ROW1]))) == 1


def test_nodata_dash_becomes_zero_not_null(spark):
    r = parse_flowlog_lines(_lines_df(spark, [NODATA])).collect()[0].asDict()
    for col in ["srcport", "dstport", "protocol", "packets", "bytes"]:
        assert r[col] == 0, col
    assert r["srcaddr"] == "-"
    assert r["logstatus"] == "NODATA"


def test_strict_rejects_wrong_arity(spark):
    with pytest.raises(FlowLogParseError):
        _strict_rows(_lines_df(spark, [ROW1, "2 too short"]))


def test_strict_rejects_wrong_version(spark):
    bad = ROW1.replace("2 123", "3 123", 1)
    with pytest.raises(FlowLogParseError):
        _strict_rows(_lines_df(spark, [bad]))


def test_lenient_drops_invalid(spark):
    df = parse_flowlog_lines(_lines_df(spark, [HEADER, ROW1, "garbage", ROW2]))
    assert df.count() == 2


def test_gzip_transparent(spark, tmp_path):
    import gzip

    p = tmp_path / "x.log.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join([HEADER, ROW1, ROW2, NODATA]))
    assert len(_strict_rows(spark.read.text(str(p)))) == 3


def test_crlf_input_matches_codegen_path(spark, tmp_path):
    # Hadoop's line reader strips the "\r" of CRLF endings: a CRLF file
    # parses exactly like its LF twin, NODATA rows included
    crlf = tmp_path / "crlf.log"
    crlf.write_bytes(("\r\n".join([HEADER, ROW1, NODATA]) + "\r\n").encode())
    lf = tmp_path / "lf.log"
    lf.write_text("\n".join([HEADER, ROW1, NODATA]) + "\n")
    rows = _strict_rows(spark.read.text(str(crlf)))
    assert {r.logstatus for r in rows} == {"OK", "NODATA"}
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, _strict_rows(spark.read.text(str(lf))))
    )


def test_short_header_is_malformed_both_paths(spark, tmp_path):
    # the reference's arity gate runs BEFORE its header skip
    # (flowlog.go:36-44): a truncated header is an error, not a header —
    # strict raises, lenient drops it and keeps the good line
    src = tmp_path / "shorthdr.log"
    src.write_text("\n".join(["version account-id interface-id", ROW1]))
    with pytest.raises(FlowLogParseError, match="malformed flow log line"):
        _strict_rows(spark.read.text(str(src)))
    assert parse_flowlog_lines(spark.read.text(str(src))).count() == 1


# the tokens on both sides of the '-' short-circuit: signs, blanks,
# fractions, overflow at each width, junk
_CAST_TOKENS = (
    None, "", "-", "--", "-0", "-5", "+5", " 5", "1.5",
    "2147483648", "9223372036854775808", "abc",
)


@pytest.mark.parametrize("dtype", ["int", "bigint"])
def test_zero_default_cast_matches_plain_coalesce_try_cast(spark, dtype):
    """The '-' short-circuit changes cost, not results: old expression,
    SQL twin and Column twin agree on every token."""
    from pyspark.sql import functions as F

    from aws_vpcflowlogs_parquet_spark.functions.casts import (
        zero_default_cast,
        zero_default_cast_sql,
    )

    df = spark.createDataFrame(
        list(enumerate(_CAST_TOKENS)), "i int, tok string"
    )
    out = df.select(
        "i",
        F.expr(f"coalesce(try_cast(tok AS {dtype}), CAST(0 AS {dtype}))")
        .alias("old"),
        F.expr(zero_default_cast_sql("tok", dtype)).alias("sql"),
        zero_default_cast("tok", dtype).alias("col"),
    ).orderBy("i").collect()
    assert len(out) == len(_CAST_TOKENS)
    for r in out:
        assert r["old"] == r["sql"] == r["col"], (_CAST_TOKENS[r["i"]], r)
    assert out[_CAST_TOKENS.index("-")]["sql"] == 0
