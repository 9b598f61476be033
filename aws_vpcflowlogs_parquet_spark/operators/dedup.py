"""Deduplication operators over the ``documents`` table (SURVEY §2.4).

Not in the reference (it has only a distinct() over partition keys,
main.go:169-172); these are the LLM-training-pipeline extensions, built
Spark-first:

- **exact**: hash-groupBy on content — one shuffle on the text hash.
- **MinHash + LSH**: shingle → P minhashes → B bands → band-bucket
  self-join. The join key is (band index, band signature), so candidate
  generation is an equi-join that scales as Σ bucket² instead of n² —
  the standard LSH trick; at 100 TB the band join shuffles only
  (doc_id, band_key) pairs, never the documents.
- **SimHash**: 16-bit signature via per-bit majority vote of token hashes;
  exact-signature buckets (or low Hamming distance) are candidates.
- **n-gram Jaccard**: exact verification metric, used post-LSH.

Signature computation is relational (explode → md5 → hash-aggregate), not
higher-order-function folds: the relational form stays inside whole-stage
codegen with map-side partial aggregation and measured ~6-25× faster. No
Python UDFs anywhere; every hash is ``md5`` over an explicit string, which
DuckDB computes identically, so each operator has an exact SQL oracle.
Numeric outputs are int ratios divided in double (deterministic IEEE),
never multi-row double sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.caching import track_persist

MINHASH_PERMS = 16
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = MINHASH_PERMS // MINHASH_BANDS
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 16

# ---------------------------------------------------------------- tokens

# Spark SQL expression fragments (Catalyst lambdas). The DuckDB twins live
# in the *_SQL constants below; parameters are shared module constants so
# the two dialects cannot drift independently.
TOKENS_EXPR = "filter(split(lower(text), ' '), t -> t != '')"


def tokens_col() -> F.Column:
    """The lowercased, space-split, non-empty tokens of ``text``."""
    return F.expr(TOKENS_EXPR)


def shingle_rows(documents: DataFrame) -> DataFrame:
    """(doc_id, s) distinct k-token shingle rows, built relationally.

    posexplode(tokens) → lead() window → concat — every step vectorized
    inside whole-stage codegen. The equivalent nested array-lambda fold
    (transform over sequence over slice) runs interpreted per element and
    measured ~6× slower at sf0.1; the relational form also gives the
    planner a real row count to size the downstream joins. One shuffle on
    doc_id, which the subsequent groupBys reuse.
    """
    tok_rows = documents.select(
        F.col("doc_id"), F.posexplode(tokens_col()).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, SHINGLE_K)]
    return (
        tok_rows.select(
            F.col("doc_id"),
            F.concat_ws(" ", *parts).alias("s"),
            F.lead("t", SHINGLE_K - 1).over(w).isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .select("doc_id", "s")
        .distinct()
    )


def shingled(documents: DataFrame, rows: DataFrame | None = None) -> DataFrame:
    """(doc_id, sh) with the distinct shingle set as an array; docs with
    fewer than k tokens drop out (no shingles). Pass a precomputed
    (persisted) ``rows`` relation to share the explode+distinct shuffle
    with another consumer (e.g. the prefix-filtered join in
    q_lsh_recall)."""
    base = rows if rows is not None else shingle_rows(documents)
    return base.groupBy("doc_id").agg(F.collect_list("s").alias("sh"))


# ---------------------------------------------------------------- operators


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact content dedup: one shuffle on text, deterministic keeper.

    Returns one row per distinct text: the kept doc_id (min), the copy
    count, and the content hash. At 100 TB you'd group on
    ``md5(text)`` instead of the full text to shrink the shuffle key;
    the md5 column here is that key, kept visible.
    """
    return (
        documents.groupBy(F.md5(F.col("text")).alias("content_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "content_md5", "n_copies")
    )


# Carter-Wegman permutation family: one md5 per shingle yields two 32-bit
# halves (h1, h2); permutation j is (h1 + j·h2) mod P. Collision behavior
# matches seeded-hash minhash at 1/16th the hashing cost.
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32

H1_EXPR = "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
H2_EXPR = "cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint)"


def minhash_signatures(shingle_tbl: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15) via explode → hash-aggregate of 16 mins.

    Deliberately NOT a higher-order-function fold: exploding shingles and
    taking 16 ``min()`` aggregates keeps the whole pipeline inside
    whole-stage codegen with map-side partial aggregation — measured ~25×
    faster than the lambda form at sf0.1, and at 100 TB it is one shuffle
    of (doc_id, 16×8B) partial minima.
    """
    hashed = shingle_tbl.select(
        "doc_id", F.explode("sh").alias("s")
    ).selectExpr("doc_id", f"{H1_EXPR} as h1", f"{H2_EXPR} as h2")
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"(h1 + {j} * h2) % {MINHASH_PRIME}")).alias(f"mh{j}")
            for j in range(MINHASH_PERMS)
        ]
    )


def band_keys(mins: DataFrame) -> DataFrame:
    """(doc_id, band) rows; band key = '{band_idx}#{sig}'."""
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[
                F.col(f"mh{b * MINHASH_ROWS_PER_BAND + r}")
                for r in range(MINHASH_ROWS_PER_BAND)
            ],
        )
        for b in range(MINHASH_BANDS)
    ]
    return mins.select("doc_id", F.explode(F.array(*band_cols)).alias("band"))


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH, verified with exact Jaccard.

    shingle(k=3) → 16 Carter-Wegman minhashes → 4 bands × 4 rows → band
    equi-join → exact Jaccard on the shingle sets → threshold. The band
    join is the only shuffle that grows with candidate count; the Jaccard
    join ships shingle sets only for surviving candidates.

    The shingle table is persisted before fan-out (it feeds the signature
    aggregation and both sides of the verify join); Catalyst's projection
    collapse would otherwise recompute tokenize+shingle per reference. At
    100 TB this stage materializes to a parquet staging table instead of
    executor memory; the plan shape is identical.
    """
    sigs = track_persist(shingled(documents))
    sigs.count()  # settle the cache before concurrent first-touch
    # the band relation feeds both sides of the candidate self-join;
    # persisting the signature table keeps the 16-min hash aggregation
    # (the expensive explode+md5 pass) from executing once per side —
    # measured as two identical signature pipelines in the executed plan
    mins = track_persist(minhash_signatures(sigs))
    bands = band_keys(mins)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.expr("size(array_intersect(sh_a, sh_b))"))
        .withColumn("uni", F.expr("size(sh_a) + size(sh_b) - inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
    )
    return scored.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash16) — the signature table.

    Per-bit majority vote over distinct token hashes, built relationally:
    explode tokens → distinct → one md5 per token → groupBy doc with 16
    vote sums (all codegen'd, map-side partial aggregation — same shape
    as :func:`minhash_signatures`). The nibble of the md5 hex is recovered
    portably as instr('0123456789abcdef', hex_char) - 1 (strpos in the
    DuckDB oracle); vote is Σ (2·bit − 1), sign >= 0 → bit set. Docs with
    no tokens get the all-ones signature (votes all 0 → every bit 1),
    preserved via the left join.

    Candidate near-dups are equal (or Hamming-close) signatures; at scale
    you groupBy the signature (one shuffle of 2-tuples) rather than
    pairing all docs.
    """
    tok_rows = documents.select("doc_id", F.explode(tokens_col()).alias("t")).distinct()
    votes = []
    for bit in range(SIMHASH_BITS):
        nibble_pos = bit // 4 + 1
        nib = f"(instr('0123456789abcdef', substring(m, {nibble_pos}, 1)) - 1)"
        bit_val = f"((({nib}) div {2 ** (bit % 4)}) % 2) * 2 - 1"
        votes.append(
            F.sum(F.expr(bit_val)).alias(f"v{bit}")
        )
    summed = (
        tok_rows.withColumn("m", F.md5("t")).groupBy("doc_id").agg(*votes)
    )
    sim = None
    for bit in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{bit}") >= 0, F.lit(2 ** bit)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    signed = summed.select("doc_id", sim.alias("simhash"))
    all_ones = (1 << SIMHASH_BITS) - 1
    return (
        documents.select("doc_id")
        .join(signed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("simhash"), F.lit(all_ones)).cast("int").alias("simhash"),
        )
    )


NGRAM_PAIRS_MAX_INPUT = 10_000
#: the all-pairs kernels verify documents with doc_id < NGRAM_MAX_ID
NGRAM_MAX_ID = 200


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Exact token-3-gram Jaccard over a bounded id range (all-pairs).

    The quadratic all-pairs form is the *verification* kernel; production
    candidate generation is :func:`minhash_lsh_pairs`. ``NGRAM_MAX_ID``
    bounds the oracle-checkable form, and the bound is MANDATORY: the filtered input
    is counted and the call raises if it exceeds ``NGRAM_PAIRS_MAX_INPUT``
    — a caller wanting corpus-scale near-dup detection must go through
    minhash_lsh_pairs and use this only on its candidate output. The guard
    count is one scan of an already-filtered, projected input (cheap next
    to the n² join it prevents).
    """
    docs = documents.filter(F.col("doc_id") < NGRAM_MAX_ID)
    n = docs.count()
    if n > NGRAM_PAIRS_MAX_INPUT:
        raise ValueError(
            f"ngram_jaccard_pairs is a quadratic verification kernel; input has "
            f"{n} rows > bound {NGRAM_PAIRS_MAX_INPUT}. Generate candidates with "
            f"minhash_lsh_pairs and verify those pairs instead."
        )
    sigs = track_persist(shingled(docs))  # referenced by both join sides
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = sa.join(sb, F.col("doc_a") < F.col("doc_b"))
    scored = (
        pairs.withColumn("inter", F.expr("size(array_intersect(sh_a, sh_b))"))
        .withColumn("uni", F.expr("size(sh_a) + size(sh_b) - inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
    )
    return scored.filter(F.col("jaccard") >= 0.2).select("doc_a", "doc_b", "jaccard")


def dedup_clusters(documents: DataFrame) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the similarity
    pair graph, by iterative min-label propagation.

    Pairs (doc_a, doc_b) from :func:`ngram_jaccard_pairs` form an
    undirected graph; each node's cluster id converges to the minimum
    doc_id reachable from it. Each iteration is one join (labels × edges)
    + one min-aggregate — both shuffles on doc_id, reusable partitioning —
    and the loop runs until a fixed point (≤ graph diameter steps; the
    driver-side loop condition is a single count, not data). This is the
    standard large-graph CC pattern (GraphX/Pregel's simplest case), the
    loop shape of ``graph.pagerank`` and ``graph.label_propagation`` too;
    the oracle is a recursive CTE computing min reachable id.

    Returns (doc_id, cluster_id) for every doc in the id range, singletons
    included.
    """
    nodes = documents.filter(F.col("doc_id") < NGRAM_MAX_ID).select("doc_id")
    pairs = ngram_jaccard_pairs(documents).select("doc_a", "doc_b")
    # symmetric edge list
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).persist()

    # r13 NEGATIVE RESULT (tried, measured, reverted): fusing the
    # changed-row probe into an eager ckpt_count(Σ cluster_id) per round
    # (min-label propagation is monotone, so an unchanged checksum ⟺ no
    # label changed) cut the job count (q_dedup_clusters 18 → 16) but
    # measured net SLOWER where it matters — q_dedup_keep_best 1.36 →
    # 2.16 s interleaved 4-rep medians — because the existing
    # ``limit(1).count()`` probe short-circuits after the FIRST changed
    # partition (CollectLimit's incremental job scans 1 partition on
    # non-converged rounds) and only pays a full pass on the final
    # converged round, while the eager checkpoint materializes every
    # round in full. The lazy-persist + cheap-probe shape stays.
    labels = nodes.withColumn("cluster_id", F.col("doc_id"))
    prev_persisted = None
    while True:
        # candidate labels: my own + the label of every neighbor
        neighbor = (
            edges.join(
                labels.withColumnRenamed("doc_id", "doc_b"), "doc_b"
            )
            .select(F.col("doc_a").alias("doc_id"), "cluster_id")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = new_labels
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def keep_first_dedup(df: DataFrame) -> DataFrame:
    """Deterministic 'keep first' dedup: the earliest (ts, event_id) row
    per (user_id, event_type), by row_number over that total order
    instead of ``dropDuplicates`` (whose survivor is partition-order
    dependent and would never hash-match an oracle)."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def prefix_filtered_pairs(
    documents: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 5,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard >= t pair join WITHOUT the quadratic all-pairs step
    or :func:`ngram_jaccard_pairs`'s input bound — the prefix-filtering
    scheme of Chaudhuri et al. / Bayardo et al. (AllPairs/PPJoin):

    1. impose ONE global canonical order on shingles — rarest first
       (corpus frequency asc, shingle asc as the total tie-break);
    2. each doc keeps only its PREFIX under that order, of length
       |x| - ceil(t*|x|) + 1. Theorem: two sets with Jaccard >= t must
       share at least one prefix element — so the equi-join on prefix
       shingles loses NO qualifying pair;
    3. equi-join prefixes -> candidate (a, b) pairs; pair count is
       sum of per-shingle prefix-frequency squared, and because rare
       shingles lead the order, prefix frequencies are the SMALLEST in
       the corpus — this is what kills the n^2;
    4. verify candidates exactly: each doc's full shingle set is
       collected ONCE into a sorted array (unique elements by
       construction — shingle_rows is distinct), candidates pick up
       both arrays via two doc-id equi-joins, and the overlap is
       ``size(array_intersect(...))`` inside codegen — accepted iff
       o * (td + tn) >= tn * (|A| + |B|), the Jaccard inequality
       cross-multiplied onto the integer lattice (t = tn/td).

    Step 0 (scale guard): exact-duplicate texts are COLLAPSED before the
    prefix join — one representative per md5(text) group — and the pair
    relation is expanded back afterwards (cross-group pairs inherit the
    representatives' jaccard, identical shingle sets by construction;
    within-group clone pairs are jaccard 1.0, emitted only when the text
    shingles at all, matching the brute force which never pairs a
    shingle-less doc). Candidate volume in the prefix join is quadratic
    in per-bucket multiplicity, so heavy exact duplication — the NORMAL
    state of a web corpus — would otherwise blow it up: measured on an
    8×-cloned sf0.1 corpus, 338 s uncollapsed vs the collapse restoring
    the unique-text cost (the unavoidable quadratic-in-clones part is
    the OUTPUT pair list itself). The expansion is three equi-joins on
    group keys — nothing quadratic in documents.

    Returns (doc_a, doc_b, jaccard) — the same relation the all-pairs
    kernel produces, proven equal in tests/test_dedup_prefix_filter.py.
    At 100 TB: one shuffle keyed on prefix shingles, one on pairs, and
    two doc-id joins against a per-document array table whose row count
    is |docs| (not |shingle rows|) — broadcastable while small, plain
    shuffled equi-joins beyond. No step is quadratic in documents, no
    step fans a candidate out by its shingle count (the previous verify
    expanded every candidate ×|A| before re-aggregating — measured 7 s
    of the 10 s total at sf0.1; the array verify removes that shuffle
    and the re-aggregation entirely), and the rare-first order is ONE
    broadcastable frequency table."""
    tn, td = threshold_num, threshold_den
    # --- step 0: collapse exact-duplicate texts -----------------------
    # ONE window pass assigns every doc its group representative
    # (min doc_id over the md5(text) partition) — cheaper than the
    # groupBy + join-back shape by several stages. Persisted: it feeds
    # the rep filter and both expansion sides.
    marked = (
        documents.select("doc_id", "text", F.md5("text").alias("_th"))
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("_th")))
    )
    marked = track_persist(marked)
    members = marked.select("rep", "doc_id")
    rep_rows = marked.filter(F.col("doc_id") == F.col("rep"))
    # Callers that ALSO consume shingles (q_lsh_recall's banding side)
    # pass their own full-corpus relation via ``rows``; restrict it to
    # representatives instead of re-shingling.
    if rows is None:
        rows = shingle_rows(rep_rows.select("doc_id", "text"))
    else:
        rows = rows.join(rep_rows.select("doc_id"), "doc_id")
    # the shingle relation feeds four consumers (doc sizes, corpus
    # frequencies, the ranked prefix, and the verify arrays); persist it
    # so the explode+distinct shuffle runs once, not once per consumer —
    # same pattern as the pagerank invariants (operators/graph.py).
    rows = track_persist(rows)
    core = _prefix_pairs_core(rows, tn, td)
    # --- expand the representative pairs back to all clones -----------
    ma = members.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ia"))
    mb = members.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("ib"))
    cross = (
        core.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "jaccard",
        )
    )
    shingly = rows.select(F.col("doc_id").alias("rep")).distinct()
    wm = members.join(shingly, "rep")
    within = (
        wm.select("rep", F.col("doc_id").alias("ia"))
        .join(wm.select("rep", F.col("doc_id").alias("ib")), "rep")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("doc_a"),
            F.col("ib").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


#: the primary shingle hash the prefix join, ranking and verify run on
SHINGLE_HASH = "xxhash64(s)"


def _prefix_pairs_core(rows: DataFrame, tn: int, td: int) -> DataFrame:
    """Steps 1-4 of :func:`prefix_filtered_pairs` over an
    already-persisted, exact-dup-free (doc_id, s) shingle relation.

    SHINGLE ENCODING (r13, guide §2.3 "narrower types"): the core runs
    on ``xxhash64(s)`` — 8-byte longs — instead of the ~20-char shingle
    strings: the candidate equi-join key, the corpus-frequency groupBy,
    the rank window and the verify arrays (``array_intersect`` over
    bigint arrays) all shrink ~2.5× in width and compare by single
    instruction. Measured: sf1 spot-bench 74-79 s → 40-42 s (−46%,
    ABAB ×2); sf0.1 neutral (16-17 s → 16.0-16.5 s cold-session runs).
    The r12 negative result on dictionary-ENCODED shingles (a dense-id
    dictionary JOIN, 4.13 → 6.15 s) does not apply: the inline hash has
    no dictionary join, no extra shuffle.

    Exactness: the prefix theorem holds under ANY total order on
    shingles, so ordering by (df, hash) instead of (df, s) changes only
    the candidate set, never the verified output — UNLESS two distinct
    shingles collide in 64 bits, which would merge their frequency
    buckets and dedup them inside ``array_intersect``. Over a corpus of
    D distinct shingles the collision probability is ~D²/2^65 (≈1.8e-7
    at D=2.6M), so the guard is always on and costs no job: ``freq``
    groups the persisted string relation by :data:`SHINGLE_HASH` and
    carries the min and max of a second, independent hash (Murmur3
    ``hash(s)``) per bucket; a bucket whose two bounds differ holds two
    distinct shingles, and the query fails in-plan (``raise_error``,
    ``USER_RAISED_EXCEPTION``) instead of answering wrong. A wrong answer
    now needs xxhash64 and Murmur3 to collide on the same pair. Integer
    bounds keep the aggregation a ``HashAggregate``; string ``min``/``max``
    would plan a ``SortAggregate``."""
    hashed = track_persist(rows.select("doc_id", F.expr(SHINGLE_HASH).alias("s")))
    # sizes and the verify arrays are DELIBERATELY separate aggregations
    # over the (persisted) shingle relation: the sizes branch is a
    # count-only hash agg with map-side combine, while folding it into
    # the array aggregate and caching that (tried round 6) forces the
    # sorted per-doc arrays to materialize for the cheap branch too —
    # Catalyst can no longer prune collect_list out of the sizes path —
    # and measured 4.8 s → 7.6 s at sf0.1.
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("sz"))
    freq = (
        rows.groupBy(F.expr(SHINGLE_HASH).alias("s"))
        .agg(
            F.count("*").alias("df"),
            F.min(F.hash("s")).alias("lo"),
            F.max(F.hash("s")).alias("hi"),
        )
        .select(
            "s",
            F.when(F.col("lo") == F.col("hi"), F.col("df"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"shingle hash collision: {SHINGLE_HASH} = "),
                        F.col("s").cast("string"),
                        F.lit(" for distinct shingles"),
                    )
                )
            )
            .alias("df"),
        )
    )
    ranked = (
        hashed.join(freq, "s")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix length |x| - ceil(t|x|) + 1, with ceil on the int lattice
    plen = F.col("sz") - F.expr(f"(sz * {tn} + {td} - 1) div {td}") + 1
    # the prefix relation feeds BOTH sides of the candidate self-join;
    # unpersisted, the whole freq-join + rank-window pipeline executes
    # once per side (measured: the window span and the freq exchange
    # appear twice in the executed plan, ~2× the prefix-build cost) —
    # persist so it runs once
    prefix = track_persist(
        ranked.filter(F.col("pos") <= plen).select("doc_id", "s")
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "s")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "s"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact overlap via per-doc shingle ARRAYS: one row per document,
    # overlap computed in codegen — no per-candidate fan-out shuffle.
    # Persisted: the array table joins into the candidates TWICE (doc_a
    # and doc_b sides), and unpersisted each side re-runs the
    # ObjectHashAggregate collect_list over the full shingle relation
    # (measured ~2× the array-build cost in the executed plan).
    arrs = track_persist(
        hashed.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("s")).alias("sh"),
            F.count("*").alias("sz"),
        )
    )
    verified = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sh_a"),
                F.col("sz").alias("sza"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("sh_b"),
                F.col("sz").alias("szb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "sza",
            "szb",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("o"),
        )
    )
    return verified.filter(
        F.col("o") * (td + tn) >= tn * (F.col("sza") + F.col("szb"))
    ).select(
        "doc_a",
        "doc_b",
        (
            F.col("o").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("o")).cast("double")
        ).alias("jaccard"),
    )
