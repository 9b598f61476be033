"""Text-analysis operators over ``documents`` (SURVEY §2.4).

Language-ID (marker-word heuristic), quality scoring, token counting, and
document fingerprinting (rolling polynomial hash). All expressed as
Catalyst array/lambda expressions — per-document work is embarrassingly
parallel, no shuffle at all until an (optional) per-language rollup, so
these scale linearly with input bytes.

Numeric discipline for the oracle: every score is built from integer counts
combined with a fixed sequence of double ops (deterministic IEEE), never a
multi-row double aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import TOKENS_EXPR

# marker stopwords per language for the n-gram/stopword heuristic.
# (The synthetic corpus shares one vocabulary, so accuracy is incidental;
# the operator contract — deterministic scoring + argmax with a fixed
# priority order — is what production lang-id needs at scale.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "una", "es"),
    "zh": ("de", "shi", "le", "zai", "he"),
}
MOD_PRIME = 1_000_000_007
HASH_MULT = 31


def _marker_count(tokens: str, markers: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return f"size(filter({tokens}, t -> t IN ({quoted})))"


def lang_scores(documents: DataFrame) -> DataFrame:
    toks = TOKENS_EXPR
    return documents.select(
        "doc_id",
        "lang",
        F.expr(f"size({toks})").alias("n_tokens"),
        *[
            F.expr(_marker_count(toks, markers)).alias(f"score_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """argmax of marker counts with a fixed tie-break priority (dict order)."""
    df = lang_scores(documents)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(langs[0])
    # first lang (in priority order) reaching the max wins — deterministic
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return df.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish word-piece count, rolled up per language.

    The word-piece proxy counts ``[a-z0-9]+`` runs after lowercasing —
    a regex both engines implement identically. Per-language rollup is one
    shuffle of (lang, counts) pairs: partial aggregation does the heavy
    lifting map-side.
    """
    toks = TOKENS_EXPR
    per_doc = documents.select(
        "lang",
        F.expr(f"size({toks})").alias("n_ws_tokens"),
        F.expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))").alias("n_pieces"),
        F.length("text").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws_tokens").alias("total_tokens"),
        F.sum("n_pieces").alias("total_pieces"),
        (F.sum("n_ws_tokens").cast("double") / F.count("*")).alias("avg_tokens_per_doc"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Per-doc quality features: length, punctuation ratio, stopword ratio,
    mean token length — composed into one deterministic score."""
    toks = TOKENS_EXPR
    en = _marker_count(toks, LANG_MARKERS["en"])
    df = documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr("size(regexp_extract_all(text, '[.,;:!?]', 0))").alias("n_punct"),
        F.expr(en).alias("n_stop"),
        F.expr(f"aggregate({toks}, 0, (acc, t) -> acc + length(t))").alias("token_chars"),
    ).filter(F.col("n_tokens") > 0)
    df = df.withColumn(
        "avg_token_len", F.col("token_chars").cast("double") / F.col("n_tokens")
    ).withColumn(
        "punct_ratio", F.col("n_punct").cast("double") / F.col("n_chars")
    ).withColumn(
        "stopword_ratio", F.col("n_stop").cast("double") / F.col("n_tokens")
    )
    score = (
        F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.col("stopword_ratio") * 0.3
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))) * 0.3
    )
    return df.select(
        "doc_id", "n_chars", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio", score.alias("quality_score"),
    )


#: tfidf_top_terms keeps this many terms per document
TFIDF_TOPK = 3


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """Top-``TFIDF_TOPK`` TF-IDF terms per document — the retrieval/feature-extraction
    primitive of an LLM data pipeline, fully relational:

    explode tokens → per-(doc, term) tf (hash agg, map-side combine) →
    per-term document frequency (second hash agg over the *already
    deduped* (doc, term) rows — the shuffle carries one row per distinct
    pair, not per token) → broadcast the corpus-size scalar → smoothed
    idf = ln((1+N)/(1+df)) + 1 (sklearn convention) → Window top-k.
    Scales like the wordcount queries: shuffles keyed on term/doc only,
    score rounded for cross-engine determinism.
    """
    toks = TOKENS_EXPR
    tok_rows = documents.select("doc_id", F.explode(F.expr(toks)).alias("t"))
    tf = tok_rows.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    n_docs = documents.select(
        F.count("*").alias("n_docs")
    )  # 1-row frame, broadcast below: no driver-side collect
    scored = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("n_docs"))
                        / (F.lit(1.0) + F.col("df"))
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("t"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", F.col("t").alias("term"), "tf", "df", "tfidf",
                F.col("rk").cast("int").alias("rk"))
    )


def fingerprint_expr(tokens: str) -> str:
    """Rolling polynomial hash over token hashes, mod a prime.

    token → 16-bit int from the first 4 hex chars of md5 (portable nibble
    lookup), folded as h = (h·31 + tok) mod P. Pure integer arithmetic —
    exact in any engine.
    """
    nib = "(instr('0123456789abcdef', substring(md5(t), {i}, 1)) - 1)"
    tok_hash = " + ".join(
        f"({nib.format(i=i + 1)} * {16 ** (3 - i)})" for i in range(4)
    )
    hashed = f"transform({tokens}, t -> {tok_hash})"
    return (
        f"aggregate({hashed}, cast(0 as bigint), "
        f"(acc, v) -> (acc * {HASH_MULT} + v) % {MOD_PRIME})"
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    toks = TOKENS_EXPR
    return documents.select(
        "doc_id", F.expr(fingerprint_expr(toks)).alias("fingerprint")
    )


CHUNK_WINDOW = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


def chunk_windows(documents: DataFrame) -> DataFrame:
    """Split each document's token stream into fixed-size context windows
    with overlap — the chunking step that feeds an embedding or training
    pipeline. Number of chunks is exact integer arithmetic
    (ceil((n-W)/S)+1, 1 chunk for short docs); each chunk is a token
    slice re-joined with single spaces. Everything is codegen'd array
    arithmetic: sequence→explode fans out chunk indices executor-side
    (rows ∝ Σ chunks, no driver loop), slice/concat_ws build the chunk —
    no shuffle at all, output partitioning follows input."""
    toks = F.expr(TOKENS_EXPR)
    d = documents.select("doc_id", toks.alias("t")).withColumn(
        "n_tokens", F.size("t")
    )
    n_chunks = F.when(F.col("n_tokens") <= CHUNK_WINDOW, F.lit(1)).otherwise(
        F.expr(
            f"int((n_tokens - {CHUNK_WINDOW} + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}) + 1"
        )
    )
    return (
        d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            "chunk_idx",
            F.slice(
                F.col("t"), F.col("chunk_idx") * CHUNK_STRIDE + 1, F.lit(CHUNK_WINDOW)
            ).alias("chunk_toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk_toks").alias("chunk_len"),
            F.concat_ws(" ", F.col("chunk_toks")).alias("chunk_text"),
        )
    )


#: contamination: every PROBE_MOD-th document stands in for the benchmark
PROBE_MOD = 101


def contamination(documents: DataFrame) -> DataFrame:
    """Train/test decontamination: which training documents share a
     3-token shingle with the benchmark set (here: every ``PROBE_MOD``-th
    doc stands in for the benchmark). The probe's distinct shingle set is
    tiny next to the corpus, so the overlap check is a broadcast semi
    join against the train shingles — at 100 TB the corpus-side shingles
    stream through map tasks and never shuffle; per-doc totals reuse the
    shingle pipeline's one shuffle on doc_id."""
    from .dedup import shingle_rows

    sh = shingle_rows(documents)
    probe = (
        sh.filter((F.col("doc_id") % PROBE_MOD) == 0).select("s").distinct()
    )
    train = sh.filter((F.col("doc_id") % PROBE_MOD) != 0)
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    overlap = (
        train.join(F.broadcast(probe), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return overlap.join(totals, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_shingles",
        (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
    )


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Intra-document repetition: 1 - distinct/total 3-gram shingles — a
    standard low-quality/boilerplate signal (high ratio = the document
    repeats itself). Total shingles is pure arithmetic on token count;
    distinct reuses the shingle pipeline. Docs with < 3 tokens drop out
    (no shingles, ratio undefined)."""
    from .dedup import SHINGLE_K, shingle_rows

    toks = F.expr(TOKENS_EXPR)
    totals = documents.select(
        "doc_id", (F.size(toks) - (SHINGLE_K - 1)).alias("n_total")
    ).filter(F.col("n_total") > 0)
    distinct = shingle_rows(documents).groupBy("doc_id").agg(
        F.count("*").alias("n_distinct")
    )
    return totals.join(distinct, "doc_id").select(
        "doc_id",
        "n_total",
        "n_distinct",
        (
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_total").cast("double")
        ).alias("rep_ratio"),
    )
