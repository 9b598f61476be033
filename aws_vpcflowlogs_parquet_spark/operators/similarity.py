"""Similarity search over ``array<float>`` embeddings (SURVEY §2.4).

Two tiers, both pure codegen'd expressions (no Python on the hot path):

- **brute-force cosine top-k** — the correctness baseline: query set ×
  corpus cross join, fold-based dot product, Window top-k. At 100 TB the
  query side is broadcast (it's small by construction) so the corpus is
  scanned exactly once with no shuffle before the top-k aggregation.
- **sign-LSH bucketed ANN** — the scale path: an 8-bit bucket from the
  signs of the leading components; candidates are an equi-join on the
  bucket id, so comparisons drop from n·q to Σ|bucket|·q_bucket. (A
  production system would use random hyperplanes; signs of fixed dims keep
  the oracle expressible while exercising the identical plan shape.)

Determinism: dot products are sequential left folds over doubles —
bit-identical to the DuckDB oracle's ``list_reduce`` — and ranking uses
round(sim, 6) with vec_id tie-break, so result sets match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.caching import track_persist

SIM_ROUND = 6
LSH_BITS = 8
#: every top-k search: the first N_QUERIES vectors (by vec_id) query,
#: and each keeps its TOPK nearest
N_QUERIES = 8
TOPK = 3

DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)
NORM_EXPR = "sqrt(aggregate({a}, cast(0.0 as double), (acc, v) -> acc + v * v))"


def _as_double() -> F.Column:
    """The ``embedding`` column as ``array<double>``."""
    return F.col("embedding").cast("array<double>")


def cosine_expr(a: str, b: str) -> str:
    return f"({DOT_EXPR.format(a=a, b=b)} / ({NORM_EXPR.format(a=a)} * {NORM_EXPR.format(a=b)}))"


def brute_force_topk(embeddings: DataFrame) -> DataFrame:
    """Exact cosine top-k of each query vector against the full corpus."""
    emb = embeddings.select("vec_id", _as_double().alias("e"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("q")
    )
    pairs = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", F.round(F.expr(cosine_expr("q", "e")), SIM_ROUND))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "vec_id", "sim", "rk")
    )


#: the LSH_BITS-bit bucket id of ``embedding`` from its component signs
#: (element_at is 1-based); plans/catalog.py's DuckDB twin reads LSH_BITS
LSH_BUCKET_EXPR = "(" + " + ".join(
    f"(CASE WHEN element_at(embedding, {i + 1}) > 0 THEN {2 ** i} ELSE 0 END)"
    for i in range(LSH_BITS)
) + ")"


def lsh_topk(embeddings: DataFrame) -> DataFrame:
    """ANN top-k restricted to the query's sign-LSH bucket."""
    emb = embeddings.select(
        "vec_id",
        _as_double().alias("e"),
        F.expr(LSH_BUCKET_EXPR).alias("bucket"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q"),
        F.col("bucket").alias("qbucket"),
    )
    pairs = (
        emb.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("sim", F.round(F.expr(cosine_expr("q", "e")), SIM_ROUND))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "vec_id", "bucket", "sim", "rk")
    )


IVF_CENTROIDS = 8


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """(vec_id, e, cell): each vector assigned to its nearest centroid.

    Centroids are the first ``IVF_CENTROIDS`` vectors by vec_id — a
    deterministic stand-in for a k-means fit (the *assignment* dataflow is
    what matters for the plan: centroid table broadcast, one corpus scan,
    argmax per vector, no shuffle). Ties break on (rounded sim, cent_id).
    """
    emb = embeddings.select("vec_id", _as_double().alias("e"))
    cents = emb.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("c")
    )
    scored = emb.join(F.broadcast(cents)).withColumn(
        "sim_c", F.round(F.expr(cosine_expr("c", "e")), SIM_ROUND)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_c"), F.asc("cent_id"))
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") == 1)
        .select("vec_id", "e", F.col("cent_id").alias("cell"))
    )


def ivf_topk(embeddings: DataFrame) -> DataFrame:
    """IVF (inverted-file) ANN: probe only the query's centroid cell.

    The scale path beside :func:`lsh_topk`: comparisons drop from n·q to
    Σ|cell|·q_cell, and the candidate join is an equi-join on the cell id
    — at 100 TB the corpus is pre-partitioned (bucketed) by cell so probes
    touch one partition per query. nprobe=1 here; production raises nprobe
    by joining on the query's top-p cells instead of its argmax cell.
    """
    assigned = track_persist(ivf_assign(embeddings))
    queries = assigned.filter(
        (F.col("vec_id") >= IVF_CENTROIDS)
        & (F.col("vec_id") < IVF_CENTROIDS + N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q"),
        F.col("cell").alias("qcell"),
    )
    pairs = assigned.join(
        F.broadcast(queries),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("sim", F.round(F.expr(cosine_expr("q", "e")), SIM_ROUND))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "vec_id", "cell", "sim", "rk")
    )


IVF_NPROBE = 2


def ivf_topk_multiprobe(embeddings: DataFrame) -> DataFrame:
    """Multi-probe IVF ANN: probe the query's ``IVF_NPROBE`` nearest cells.

    The production refinement over :func:`ivf_topk` (nprobe=1): recall
    lost to queries near a cell boundary is recovered by also scanning
    the runner-up cells. Cost grows linearly in nprobe while staying
    Σ|cell|·nprobe ≪ n·q; the candidate step stays a broadcast equi-join
    on the cell id, so at 100 TB it still touches nprobe pre-bucketed
    partitions per query and shuffles nothing. Corpus cells are disjoint
    and a query's probe cells are distinct, so no candidate dedup step is
    needed — (query_id, vec_id) pairs are unique by construction.
    """
    emb = embeddings.select("vec_id", _as_double().alias("e"))
    cents = emb.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("c")
    )
    scored = emb.join(F.broadcast(cents)).withColumn(
        "sim_c", F.round(F.expr(cosine_expr("c", "e")), SIM_ROUND)
    )
    wc = Window.partitionBy("vec_id").orderBy(F.desc("sim_c"), F.asc("cent_id"))
    ranked = scored.withColumn("crk", F.row_number().over(wc))
    assigned = ranked.filter(F.col("crk") == 1).select(
        "vec_id", "e", F.col("cent_id").alias("cell")
    )
    probes = ranked.filter(
        (F.col("crk") <= IVF_NPROBE)
        & (F.col("vec_id") >= IVF_CENTROIDS)
        & (F.col("vec_id") < IVF_CENTROIDS + N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q"),
        F.col("cent_id").alias("qcell"),
    )
    pairs = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("sim", F.round(F.expr(cosine_expr("q", "e")), SIM_ROUND))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "vec_id", "cell", "sim", "rk")
    )


#: embedding_near_dup_pairs: every NEAR_DUP_SAMPLE_MOD-th vector, and
#: the cosine a pair must reach
NEAR_DUP_SAMPLE_MOD = 5
NEAR_DUP_COSINE = 0.9


def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on the sign-LSH bucket.

    The block key is :data:`LSH_BUCKET_EXPR` — the same sub-quadratic
    key the ANN path uses — so the candidate join is an equi-join on the
    bucket id and comparisons drop from n² to Σ|bucket|². Cosine ≥ 0.9
    vectors agree on almost all sign bits, so recall loss is the standard
    LSH trade; at 100 TB this is the only blocking that stays sub-quadratic
    when a label spans a large fraction of the corpus.
    ``NEAR_DUP_SAMPLE_MOD`` bounds the oracle-checkable form; both sides emit (vec_a, vec_b,
    bucket, sim) so the driver hash-compare is exact.
    """
    emb = embeddings.filter(F.col("vec_id") % NEAR_DUP_SAMPLE_MOD == 0).select(
        "vec_id",
        _as_double().alias("e"),
        F.expr(LSH_BUCKET_EXPR).alias("bucket"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("bucket"), F.col("e").alias("ea")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("e").alias("eb"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).withColumn("sim", F.round(F.expr(cosine_expr("ea", "eb")), SIM_ROUND))
    return pairs.filter(F.col("sim") >= NEAR_DUP_COSINE).select(
        "vec_a", "vec_b", "bucket", "sim"
    )
