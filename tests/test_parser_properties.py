"""Property-based parser tests (hypothesis): the Spark flow-log parser
must agree with a direct Python model of the reference semantics
(flowlog.go:33-98) on arbitrary generated inputs — header skip, arity
gate, version gate, and silent-zero numeric defaults.

Spark jobs are expensive per example, so each example batches many lines
into one parse (coverage per example is high; example count stays small).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_vpcflowlogs_parquet_spark.operators.convert import table_rows
from aws_vpcflowlogs_parquet_spark.sources.flowlog import (
    FlowLogParseError,
    parse_flowlog_lines,
    parse_flowlog_lines_observed,
    raise_if_malformed,
)

# int32-safe numeric-ish tokens, including the '-' NODATA marker and garbage
NUMERIC_TOKEN = st.one_of(
    st.integers(min_value=0, max_value=2**31 - 1).map(str),
    st.just("-"),
    st.just("abc"),
    st.just(""),
    st.just("1.5"),
)
WORD = st.text(alphabet="abcdefghij-.", min_size=1, max_size=8)


@st.composite
def flow_line(draw):
    kind = draw(st.sampled_from(["valid", "valid", "valid", "header", "arity", "version"]))
    if kind == "header":
        return (
            "version account-id interface-id srcaddr dstaddr srcport dstport "
            "protocol packets bytes start end action log-status"
        )
    toks = [
        "2",
        draw(st.integers(0, 10**12 - 1).map(lambda v: str(v).zfill(12))),
        "eni-" + draw(st.text(alphabet="0123456789abcdef", min_size=4, max_size=8)),
        draw(WORD),
        draw(WORD),
        draw(NUMERIC_TOKEN),
        draw(NUMERIC_TOKEN),
        draw(NUMERIC_TOKEN),
        draw(NUMERIC_TOKEN),
        draw(NUMERIC_TOKEN),
        str(draw(st.integers(0, 2**31 - 1))),
        str(draw(st.integers(0, 2**31 - 1))),
        draw(st.sampled_from(["ACCEPT", "REJECT", "-"])),
        draw(st.sampled_from(["OK", "NODATA", "SKIPDATA"])),
    ]
    if kind == "arity":
        toks = toks[: draw(st.sampled_from([10, 13]))]
    elif kind == "version":
        toks[0] = draw(st.sampled_from(["1", "3", "x"]))
    return " ".join(toks)


def _model_int(tok: str) -> int:
    """strconv.Atoi-with-zero-default (flowlog.go:59-90): int on success,
    0 on any parse failure."""
    try:
        return int(tok)
    except ValueError:
        return 0


def _model_parse(line: str):
    """Pure-Python reference model of flowlog.go:33-98 (lenient path)."""
    toks = line.split(" ")
    if len(toks) != 14:
        return None
    if toks[0] == "version":
        return None
    if toks[0] != "2":
        return None
    return (
        2,
        toks[1],
        toks[2],
        toks[3],
        toks[4],
        _model_int(toks[5]),
        _model_int(toks[6]),
        _model_int(toks[7]),
        _model_int(toks[8]),
        _model_int(toks[9]),
        _model_int(toks[10]),
        _model_int(toks[11]),
        toks[12],
        toks[13],
    )


FIELDS = [
    "version", "accountid", "interfaceid", "srcaddr", "dstaddr",
    "srcport", "dstport", "protocol", "packets", "bytes",
    "start_ts", "end_ts", "action", "logstatus",
]


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(flow_line(), min_size=1, max_size=40))
def test_lenient_parse_matches_reference_model(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    got = sorted(
        tuple(r) for r in parse_flowlog_lines(df).select(*FIELDS).collect()
    )
    want = sorted(t for t in (_model_parse(l) for l in lines) if t is not None)
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(flow_line(), min_size=1, max_size=20))
def test_strict_mode_matches_reference_abort(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    # strict aborts iff any non-header line is malformed (convert.go:48-50)
    def _is_bad(l: str) -> bool:
        toks = l.split(" ")
        return not (
            len(toks) == 14 and (toks[0] == "version" or toks[0] == "2")
        )

    should_fail = any(_is_bad(l) for l in lines)
    parsed, obs = parse_flowlog_lines_observed(df)
    parsed.collect()
    try:
        raise_if_malformed(obs)
        failed = False
    except FlowLogParseError:
        failed = True
    assert failed == should_fail


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=30))
def test_partition_date_matches_utc_epoch(spark, starts):
    import datetime as dt

    lines = [
        f"2 123456789000 eni-1 a b 1 2 6 1 1 {s} {s + 60} ACCEPT OK" for s in starts
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    got = sorted(
        r["dt"]
        for r in table_rows(parse_flowlog_lines(df)).select("dt").collect()
    )
    want = sorted(
        dt.datetime.fromtimestamp(s, dt.timezone.utc).strftime("%Y-%m-%d")
        for s in starts
    )
    assert got == want
