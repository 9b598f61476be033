"""Distributed exact global ranks and prefix sums.

The scale-killer this module retires (round-7 verdict item 2): an exact
global ``row_number()`` / running-sum expressed as a window with an
empty partition spec forces ALL rows through one ``Exchange
SinglePartition`` — correct at any test scale, dead at 100 TB. The
classic fix is the two-pass range-partitioned prefix scan (the textbook
distributed prefix-sum): range-repartition on the total order key
(equi-depth sampled boundaries, so skew is handled by construction),
rank/scan WITHIN each range in parallel, and add each range's offset —
the cumulative count/sum of all lower ranges, a #ranges-row table that
broadcasts. No single-partition exchange ever touches data rows; the
only global structure is the bounded offset table.

Exactness: range partition p holds keys strictly ordered before
partition p+1's (RangePartitioner contract — and AQE may only coalesce
ADJACENT shuffle partitions, which preserves the contiguity),
``sortWithinPartitions`` completes the order inside each range, so
``local_index + Σ counts(lower ranges)`` IS the global row number.
The local index costs NO window and no second shuffle: it is the low
33 bits of ``monotonically_increasing_id()`` — Spark's documented
layout is ``partition_id << 33 | record_number_within_partition``,
and the record number is assigned in row order during the range-sorted
materialization (the DataFrame form of ``RDD.zipWithIndex``, which
computes the same count-offsets two-pass). The input is persisted so
the offset aggregate and the ranked output read the same materialized
partitioning, and the stamped ids can never disagree between the two
consumers. Bound: ≤ 2^33 rows per range partition — at 8.5 B rows per
range × any sane range count, not the binding constraint at 100 TB
(size RANGES to cluster parallelism instead).

Used by the four exact audit twins (q_decile_stats, q_gini,
q_lorenz_curve, q_abc_pareto); their oracles are unchanged — only the
physical strategy moved from "sort everything on one task" to
"sort ranges in parallel + broadcast offsets".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import track_persist

__all__ = [
    "with_bucketed_prefix_sum",
    "with_bucketed_rank",
    "with_global_rank",
    "with_prefix_sum",
    "ntile_from_rank",
]

#: number of sampled key ranges. At 100 TB this should track cluster
#: parallelism (executors × cores); the equi-depth sampling keeps ranges
#: balanced regardless of key skew.
RANGES = 32

_RANGE_ID = "_range_id"
_LOCAL_IDX = "_local_idx"
_IDX_MASK = (1 << 33) - 1


def _ranged(df: DataFrame, order_by: list[Column]) -> DataFrame:
    """Range-repartition on the total order, sort within each range, and
    stamp every row with (range id, 0-based in-range index). Persisted:
    the offset table and the ranked rows must read the SAME materialized
    partitioning and ids."""
    parted = (
        df.repartitionByRange(RANGES, *order_by)
        .sortWithinPartitions(*order_by)
        .select(
            "*",
            F.spark_partition_id().alias(_RANGE_ID),
            F.monotonically_increasing_id()
            .bitwiseAND(F.lit(_IDX_MASK))
            .alias(_LOCAL_IDX),
        )
    )
    return track_persist(parted)


def _offsets(parted: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Per-range totals rolled into exclusive prefix offsets, plus the
    grand total of each aggregate (``_tot_*`` — same rows, free).

    The cumulative window here runs over the #ranges-row table — the
    bounded-domain window pattern, not a data-row scan."""
    per_range = parted.groupBy(_RANGE_ID).agg(
        *[a.alias(n) for n, a in aggs.items()]
    )
    w = Window.orderBy(_RANGE_ID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(_RANGE_ID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_range.select(
        _RANGE_ID,
        *[
            F.coalesce(F.sum(n).over(w), F.lit(0))
            .cast("bigint")
            .alias(f"_off_{n}")
            for n in aggs
        ],
        *[
            F.sum(n).over(w_all).cast("bigint").alias(f"_tot_{n}")
            for n in aggs
        ],
    )


def with_global_rank(
    df: DataFrame, order_by: list[Column], total_name: str | None = None
) -> DataFrame:
    """Exact global ``row_number()`` ``i`` over a TOTAL order (the caller
    must pass a tie-free key tuple), with no single-partition exchange and
    no data-row window. ``total_name`` optionally surfaces the grand row
    count as a column (read off the offset table — no extra data scan,
    which ntile reconstruction needs)."""
    parted = _ranged(df, order_by)
    offs = _offsets(parted, {"n": F.count("*")})
    out = parted.join(F.broadcast(offs), _RANGE_ID).withColumn(
        "i",
        (F.col(_LOCAL_IDX) + 1 + F.col("_off_n")).cast("bigint"),
    )
    if total_name is not None:
        out = out.withColumn(total_name, F.col("_tot_n"))
    return out.drop(_RANGE_ID, _LOCAL_IDX, "_off_n", "_tot_n")


def with_prefix_sum(df: DataFrame, order_by: list[Column], value: Column) -> DataFrame:
    """Exact inclusive running SUM(value) ``cum`` over a total order:
    local running sums within each sampled range (the one data-row
    window, partitioned by range — fully parallel) plus the broadcast
    sum of all lower ranges."""
    parted = _ranged(df.withColumn("_psv", value), order_by)
    offs = _offsets(parted, {"s": F.sum("_psv")})
    run = (
        Window.partitionBy(_RANGE_ID)
        .orderBy(_LOCAL_IDX)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parted.join(F.broadcast(offs), _RANGE_ID)
        .withColumn(
            "cum",
            (F.sum("_psv").over(run) + F.col("_off_s")).cast("bigint"),
        )
        .drop(_RANGE_ID, _LOCAL_IDX, "_off_s", "_tot_s", "_psv")
    )


def with_bucketed_rank(
    df: DataFrame,
    bucket: Column,
    order_by: list[Column],
    total_name: str | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` ``i`` by RANK-BY-COUNTING over a monotone
    value bucket (the q_quantile_bisect lineage): histogram the bucket
    counts (one partial-aggregated scan, broadcast), roll them into
    exclusive prefix offsets over the BOUNDED bin table, and complete
    the order with an in-bucket ``row_number`` window PARTITIONED by
    bucket — every bin ranks in parallel, no sampling pass, no persist,
    no single-partition exchange over data rows.

    CALLER CONTRACT: ``bucket`` must be monotone non-decreasing in the
    leading ``order_by`` key, so bucket order extends to row order.
    Versus ``with_global_rank``: this variant is one scan cheaper and
    fully declarative, but bin
    balance depends on the VALUE distribution — a pathological
    distribution concentrates one bin (mitigate by bucket granularity
    or fall back to the sampled-range kernel, which is equi-depth by
    construction)."""
    b = df.withColumn("_rb", bucket)
    hist = b.groupBy("_rb").agg(F.count("*").alias("_n"))
    w = Window.orderBy(F.col("_rb").asc()).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(F.col("_rb").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = hist.select(
        "_rb",
        F.coalesce(F.sum("_n").over(w), F.lit(0))
        .cast("bigint")
        .alias("_off_n"),
        F.sum("_n").over(w_all).cast("bigint").alias("_tot_n"),
    )
    local = Window.partitionBy("_rb").orderBy(*order_by)
    out = b.join(F.broadcast(offs), "_rb").withColumn(
        "i",
        (F.row_number().over(local) + F.col("_off_n")).cast("bigint"),
    )
    if total_name is not None:
        out = out.withColumn(total_name, F.col("_tot_n"))
    return out.drop("_rb", "_off_n", "_tot_n")


def with_bucketed_prefix_sum(
    df: DataFrame, bucket: Column, order_by: list[Column], value: Column
) -> DataFrame:
    """Exact inclusive running SUM(value) ``cum_cents`` over a DESCENDING
    order by the same rank-by-counting shape: per-bin value totals
    broadcast as exclusive prefix offsets, plus an in-bin running sum
    (window partitioned by bucket). ``bucket`` must be monotone
    non-increasing in the leading ``order_by`` key — the mirror of
    :func:`with_bucketed_rank`'s contract."""
    b = df.withColumn("_rb", bucket).withColumn("_psv", value)
    hist = b.groupBy("_rb").agg(F.sum("_psv").alias("_s"))
    w = Window.orderBy(F.col("_rb").desc()).rowsBetween(Window.unboundedPreceding, -1)
    offs = hist.select(
        "_rb",
        F.coalesce(F.sum("_s").over(w), F.lit(0))
        .cast("bigint")
        .alias("_off_s"),
    )
    run = (
        Window.partitionBy("_rb")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(offs), "_rb")
        .withColumn(
            "cum_cents",
            (F.sum("_psv").over(run) + F.col("_off_s")).cast("bigint"),
        )
        .drop("_rb", "_off_s", "_psv")
    )


def _exact_div(num: Column, den: Column) -> Column:
    """``num // den`` for non-negative bigints, exact below 2**53:
    subtracting the mod first makes the numerator an exact multiple, and
    IEEE division of an exact multiple is exact (the true quotient is
    representable, so the correctly-rounded result IS it) — no
    truncation-of-a-rounded-double edge at tile boundaries."""
    return ((num - num % den) / den).cast("bigint")


#: ntile_from_rank's tile count: deciles
NTILES = 10


def ntile_from_rank(rank: Column, total: Column) -> Column:
    """SQL ``ntile(NTILES)`` reconstructed from an exact global row
    number: the first ``total % NTILES`` tiles take
    ``total // NTILES + 1`` rows, the rest ``total // NTILES`` — exact
    integer arithmetic only (``_exact_div``), so the bucket boundary can
    never flicker against the oracle's ntile."""
    q = _exact_div(total, F.lit(NTILES))
    r = total % NTILES
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading tiles
    return (
        F.when(rank <= big, _exact_div(rank - 1, q + 1))
        .otherwise(r + _exact_div(rank - big - 1, q))
        + 1
    ).cast("int")
