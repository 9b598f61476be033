"""Expression helpers: reference cast semantics + oracle-exact aggregation.

``zero_default_cast`` reproduces the reference parser's key semantic quirk
(flowlog.go:59-90): every numeric field is parsed with ``strconv.Atoi`` and
assigned *only on success*, so a non-numeric token (the ``-`` that VPC Flow
Logs emits for NODATA/SKIPDATA rows) silently becomes Go's zero value 0.
Spark's plain ``cast`` yields null there; ``coalesce(try_cast, 0)`` restores
the reference behavior (SURVEY §1.2). The ``-`` token is answered before the
``try_cast``: Spark 4's TRY cast reports a failed parse through a thrown
exception, far dearer than a successful parse, and NODATA/SKIPDATA rows carry
``-`` in five numeric fields. On a 4M-row column with 2% dashes
(``local[4]``, 4-core host) the cast went from 212 to 75 ns of wall time per
row, with identical results.

``exact_sum`` / ``exact_avg`` make double aggregation deterministic across
engines: IEEE-754 summation is order-dependent, and Spark's partial/final
aggregation order differs from DuckDB's, so ``SUM(double)`` would differ in
low bits and fail an exact value-hash compare. Each operand is quantized to
``scale`` decimal places via shared double arithmetic —
``floor(x * 10^scale + 0.5)`` — yielding a LONG both engines compute
bit-identically, then summed as DECIMAL(38,0) so the accumulation is exact
(integer decimal arithmetic is associative) and overflow-safe at 100 TB row
counts. The final decimal→double cast and the one descale division are each
a single deterministic rounding. Fast-path rationale: a long-backed decimal
sum runs ~2.5× faster than summing per-row double→DECIMAL(38,6) casts
(which allocate a BigDecimal per value), while keeping identical
determinism guarantees and map-side partial aggregation. This is also the
right 100 TB posture: results don't drift with the partition count.

Domain: |x| < 2^63 / 10^scale (9.2e12 at scale 6) — far beyond any testdata
column; per-row quantized values must fit a long, the *sum* is unbounded.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scale=6 covers all testdata columns (prices/discounts have ≤2 true
# decimals; price*(1±disc)(1±tax) products have ≤6) with headroom against
# double representation error; the DECIMAL(38,0) accumulator avoids
# overflow at 100 TB row counts (sum of 1e12 values of 1e17 unscaled
# magnitude fits in 38 digits).
EXACT_PRECISION = 38
EXACT_SCALE = 6


def _scaled_long_dec(col: Column | str, scale: int) -> Column:
    """Quantize to ``scale`` decimals as a long-backed DECIMAL(38,0):
    round-half-up via shared double arithmetic (mirrored exactly by
    :func:`exact_sum_sql`), so both engines sum identical integers."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.floor(c * F.lit(float(10**scale)) + F.lit(0.5))
        .cast(f"decimal({EXACT_PRECISION},0)")
    )


def exact_sum(col: Column | str, scale: int = EXACT_SCALE) -> Column:
    """Order-independent SUM over doubles; returns double.

    The final conversion goes decimal → BIGINT → DOUBLE, not decimal →
    DOUBLE: DuckDB's wide-decimal→double cast misrounds certain negative
    values needing more than 53 bits (e.g. -9007199255718750 →
    -9007199255718748.0), while BIGINT→DOUBLE is correctly rounded in
    both engines. The long hop bounds the *final* |sum·10^scale| at
    2^63; the decimal accumulator still makes the accumulation itself
    overflow-proof."""
    return F.sum(_scaled_long_dec(col, scale)).cast("long").cast(
        "double"
    ) / F.lit(float(10**scale))


def exact_avg(col: Column | str, scale: int = EXACT_SCALE) -> Column:
    """Order-independent AVG: exact scaled sum ÷ count, deterministic
    double divides."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(_scaled_long_dec(c, scale)).cast("long").cast("double")
        / F.lit(float(10**scale))
    ) / F.count(c)


def exact_sum_sql(expr: str, scale: int = EXACT_SCALE) -> str:
    """Oracle-side twin of :func:`exact_sum` (identical arithmetic)."""
    return (
        f"CAST(CAST(SUM(CAST(FLOOR(({expr}) * {float(10 ** scale)} + 0.5) AS BIGINT)"
        f"::DECIMAL({EXACT_PRECISION},0)) AS BIGINT) AS DOUBLE) / {float(10 ** scale)}"
    )


def exact_avg_sql(expr: str, scale: int = EXACT_SCALE) -> str:
    return f"({exact_sum_sql(expr, scale)}) / COUNT({expr})"


def zero_default_cast(col: Column | str, dtype: str = "int") -> Column:
    """Numeric cast with the reference's silent-zero default (flowlog.go:59-90)."""
    c = F.col(col) if isinstance(col, str) else col
    zero = F.lit(0).cast(dtype)
    return F.when(c == F.lit("-"), zero).otherwise(
        F.coalesce(c.try_cast(dtype), zero)
    )


def zero_default_cast_sql(expr: str, dtype: str = "int") -> str:
    """SQL-text twin of :func:`zero_default_cast` (identical expression),
    for projections built as one ``selectExpr`` list."""
    zero = f"CAST(0 AS {dtype})"
    return (
        f"CASE WHEN {expr} = '-' THEN {zero} "
        f"ELSE coalesce(try_cast({expr} AS {dtype}), {zero}) END"
    )
