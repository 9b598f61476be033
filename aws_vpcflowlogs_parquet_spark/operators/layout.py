"""Physical data-layout management — the write-side half of 100 TB
performance.

A table's read cost at scale is dominated by how much a scan can SKIP:
parquet footers carry per-file/per-row-group min-max stats, and Spark's
scan prunes files whose stat interval misses the predicate. Skipping is
only effective if the layout clusters predicate columns — which is what
`optimize_layout` provides:

- single-column clustering: range-repartition + sort on that column
  (each file owns a narrow value interval);
- multi-column clustering: interleave the columns' bits into a Z-order
  (Morton) key, then range-repartition + sort on the key — every file
  owns a compact hyper-rectangle, so point/box predicates on ANY of the
  clustered columns prune (the Delta/Iceberg OPTIMIZE ZORDER BY scheme;
  same curve arithmetic as q_zorder_cells).

The operator is pure DataFrame plumbing: one range shuffle (sampled
boundaries, skew-resistant) + an in-partition sort that rides the same
exchange, then a parquet write; the helper key column is projected away
before the write so the on-disk schema is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ZBITS = 16  # bits per dimension in the interleaved key


def zorder_key(cols: list[str]) -> F.Column:
    """Interleave the low ``ZBITS`` bits of each (non-negative integral)
    column into one Morton key: bit i of column j lands at position
    i * n_cols + j. Pure integer arithmetic — codegen'd, deterministic.

    ``ZBITS`` is clamped so the key never touches the bigint sign bit
    (n_cols * bits <= 63): with the old unclamped default, 4+ columns
    placed a bit at position 63, making high-curve keys NEGATIVE — they
    range-partitioned before all positive keys, breaking Morton locality
    (ADVICE r3). Inputs >= 2^bits alias into the low ``bits`` bits by
    construction (the `& 1` per-bit mask); callers clustering wide
    domains should pre-bucket (divide) the column so its range fits —
    aliasing degrades clustering quality but never correctness, since
    the key is projected away before the write."""
    n = len(cols)
    bits = min(ZBITS, 63 // n)
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(
                f"shiftleft(cast((cast({c} as bigint) >> {i}) & 1 as bigint),"
                f" {i * n + j})"
            )
    return F.expr(" + ".join(terms))


def optimize_layout(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 8,
) -> None:
    """Rewrite ``df`` at ``path`` clustered on ``cluster_by``.

    One column → plain range-clustering; several → Z-order. The range
    repartition samples split points (balanced files even under skew)
    and `sortWithinPartitions` reuses that exchange — exactly one
    shuffle for the whole rewrite, the same cost envelope as Delta's
    OPTIMIZE. At 100 TB this runs per partition-of-the-table (e.g. per
    dt=...), keeping each rewrite bounded."""
    if len(cluster_by) == 1:
        key = F.col(cluster_by[0])
    else:
        key = zorder_key(cluster_by)
    out_cols = df.columns
    (
        df.withColumn("_ck", key)
        .repartitionByRange(n_files, "_ck")
        .sortWithinPartitions("_ck")
        .select(*out_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_skip_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of parquet row groups a ``col BETWEEN lo AND hi`` scan
    can SKIP from footer min-max stats alone (1.0 = everything skipped).
    Reads only footers — the same information the engine's scan pruning
    uses; test/diagnostic helper for layout quality."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = 0
    skipped = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is not None and (st.max < lo or st.min > hi):
                skipped += 1
    return skipped / total if total else 0.0
