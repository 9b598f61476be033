"""VPC Flow Log v2 text source: gzip lines → typed records.

Reference dataflow (SURVEY §2.1 R1, R4-R9): ``rlogs.Read`` streams an S3
object, gunzips, splits into lines, and a per-line parser
(flowlog.go:33-98) tokenizes on a single space, rejects lines that aren't
exactly 14 tokens, silently skips the header row, hard-errors on version≠2,
and casts numerics with a silent-zero default.

Spark-first re-expression: ``spark.read.text`` (transparently gunzips *.gz,
splits lines, parallelizes across files/blocks — the whole of rlogs'
contract) followed by declarative column expressions. All of it runs inside
WholeStageCodegen; nothing here is a UDF, so the same plan handles 100 TB of
log text limited only by executor count.

Strictness: the reference aborts the whole conversion on the first parse
error (convert.go:48-50). Batch mode exposes that through
:func:`parse_flowlog_lines_observed` + :func:`raise_if_malformed` (the
malformed-line count rides the main job; raise after the action);
streaming uses the lenient :func:`parse_flowlog_lines` (malformed lines
dropped via the ``_is_valid`` flag) since aborting a long-lived query per
bad line is not a streaming posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.casts import zero_default_cast_sql
from ..schema import FLOW_COLUMNS, NUM_RAW_TOKENS, SUPPORTED_VERSION

# The parse is built as SQL-text projection lists, fixed at import: a
# ``selectExpr`` costs about one py4j round trip per list entry, where
# the same projection assembled from ``F.*`` calls costs one per call —
# over 1,200 for the 14 typed columns and the flags, against about 50 for
# the lists below.

# header: first token is the literal 'version' (flowlog.go:42-44). The
# reference's arity check runs BEFORE its header skip (flowlog.go:36-44),
# so a header row with arity != 14 is malformed, not a skippable header.
_IS_HEADER_SQL = f"size(_toks) = {NUM_RAW_TOKENS} AND _toks[0] = 'version'"
_FLAG_EXPRS = (
    "size(_toks) AS _n_toks",
    f"{_IS_HEADER_SQL} AS _is_header",
    f"size(_toks) = {NUM_RAW_TOKENS} AND NOT ({_IS_HEADER_SQL}) "
    f"AND _toks[0] = '{SUPPORTED_VERSION}' AS _is_valid",
)
# malformed = neither a valid record nor a skippable header
_IS_BAD_SQL = "NOT _is_valid AND NOT _is_header"


def _typed_expr(idx: int, dtype) -> str:
    tok = f"_toks[{idx}]"
    if dtype.typeName() == "string":
        return tok
    return zero_default_cast_sql(tok, dtype.simpleString())


# 14 tokens → typed columns, then the UTC event time (flowlog.go:86,92-97)
# computed from the same start_ts expression
_TYPED_EXPRS = tuple(
    f"{_typed_expr(idx, dtype)} AS {name}"
    for name, (idx, dtype) in FLOW_COLUMNS.items()
) + (
    "to_timestamp(from_unixtime("
    f"{_typed_expr(*FLOW_COLUMNS['start_ts'])})) AS start_time",
)


class FlowLogParseError(ValueError):
    """Strict-mode analogue of the reference's abort-on-error (convert.go:48-50)."""


def tokenize(df: DataFrame) -> DataFrame:
    """Split each ``value`` line (``spark.read.text``'s column) on a
    single space (flowlog.go:36) and attach validity flags ``_n_toks``,
    ``_is_header`` and ``_is_valid``."""
    toks = df.selectExpr("*", "split(`value`, ' ') AS _toks")
    return toks.selectExpr("*", *_FLAG_EXPRS)


def typed_projection(df: DataFrame) -> DataFrame:
    """14 tokens → typed columns (flowlog.go:50-90 semantics) + ``start_time``.

    Numerics use the zero-default cast (``-`` → 0, SURVEY §1.2); strings
    pass through. Adds the derived event-time column (flowlog.go:86,92-97):
    ``start_time = to_timestamp(start_ts)`` in UTC.
    """
    return df.selectExpr(*_TYPED_EXPRS)


def parse_flowlog_lines(lines: DataFrame) -> DataFrame:
    """Lines DataFrame → typed FlowLog DataFrame; malformed lines are
    dropped. Strict callers use :func:`parse_flowlog_lines_observed`."""
    return typed_projection(tokenize(lines).filter("_is_valid"))


def parse_flowlog_lines_observed(lines: DataFrame) -> tuple[DataFrame, Observation]:
    """Lines → typed DataFrame plus an :class:`Observation` for single-pass
    strict validation.

    The malformed-line count (and one sample line for the error message)
    rides the main job as a CollectMetrics node placed *before* the
    validity filter, so one scan produces both the output and the verdict.
    The caller runs its action, then calls :func:`raise_if_malformed` —
    see operators/convert.py convert_flowlogs (reference abort-on-error:
    convert.go:48-50).
    """
    obs = Observation()
    tok = tokenize(lines).observe(
        obs,
        F.expr(f"sum(CAST({_IS_BAD_SQL} AS BIGINT)) AS n_bad"),
        F.expr(f"max(CASE WHEN {_IS_BAD_SQL} THEN `value` END) AS sample_bad"),
    )
    return typed_projection(tok.filter("_is_valid")), obs


def raise_if_malformed(obs: Observation) -> None:
    """Post-action half of the single-pass strict contract."""
    metrics = obs.get
    if metrics["n_bad"]:
        raise FlowLogParseError(
            f"{metrics['n_bad']} malformed flow log line(s); "
            f"sample: {metrics['sample_bad']!r}"
        )

