"""prefix_filtered_pairs (operators/dedup.py): the sub-quadratic EXACT
Jaccard pair join. The contract is strict equality with the brute-force
all-pairs relation — prefix filtering is a lossless candidate pruning,
so any divergence is a bug, not an approximation."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.operators import dedup
from aws_vpcflowlogs_parquet_spark.operators.dedup import (
    NGRAM_MAX_ID,
    ngram_jaccard_pairs,
    prefix_filtered_pairs,
    shingle_rows,
)
from aws_vpcflowlogs_parquet_spark.sources.tables import load_table

from .conftest import SF_DIR


def _collect_pairs(df):
    return sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in df.collect()
    )


def test_equals_all_pairs_kernel_on_bounded_range(spark):
    docs = load_table(spark, SF_DIR, "documents")
    bounded = docs.filter(F.col("doc_id") < NGRAM_MAX_ID)
    want = _collect_pairs(ngram_jaccard_pairs(docs))
    got = _collect_pairs(prefix_filtered_pairs(bounded, 1, 5))  # t = 0.2
    assert got == want


def test_equals_duckdb_brute_force_on_full_corpus(spark, duck):
    # the whole point: NO doc_id bound. 500 docs -> 124,750 brute pairs
    # in DuckDB vs the prefix-filtered join in Spark; identical output.
    docs = load_table(spark, SF_DIR, "documents")
    got = _collect_pairs(prefix_filtered_pairs(docs, 1, 5))
    rows = duck.execute(
        """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x != '') AS tk
          FROM documents
        ),
        sigs AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(tk) >= 3 THEN
                   list_transform(generate_series(1, len(tk) - 2),
                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))
                 ELSE [] END) AS sh
          FROM t
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 AS jaccard
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND 5 * len(list_intersect(a.sh, b.sh))
              >= 1 * (len(a.sh) + len(b.sh))
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              >= 0.2
        """
    ).fetchall()
    want = sorted((a, b, round(j, 9)) for a, b, j in rows)
    assert got == want


def test_shingle_hash_collision_fails_the_query(spark, monkeypatch):
    # a primary hash with 8 values merges distinct shingles into one
    # frequency bucket; the second hash the frequency aggregation carries
    # must catch it and fail the query instead of answering wrong
    monkeypatch.setattr(dedup, "SHINGLE_HASH", "xxhash64(s) % 8")
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 50)
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION") as e:
        prefix_filtered_pairs(docs, 1, 5).collect()
    assert "shingle hash collision: xxhash64(s) % 8 = " in str(e.value)


@pytest.mark.parametrize("tn,td", [(1, 2), (4, 5)])
def test_higher_thresholds_subset_of_lower(spark, tn, td):
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 300)
    low = {(r.doc_a, r.doc_b) for r in prefix_filtered_pairs(docs, 1, 10).collect()}
    high = {
        (r.doc_a, r.doc_b) for r in prefix_filtered_pairs(docs, tn, td).collect()
    }
    assert high <= low  # monotone in the threshold


def test_prefix_join_is_smaller_than_all_pairs(spark):
    # the scalability claim, measured on the operator itself: the rows
    # out of the candidate-pair distinct in prefix_filtered_pairs'
    # executed plan must be far fewer than n*(n-1)/2
    import re

    from aws_vpcflowlogs_parquet_spark import observability as obs

    docs = load_table(spark, SF_DIR, "documents")
    n = shingle_rows(docs).select("doc_id").distinct().count()
    pairs = prefix_filtered_pairs(docs)
    obs.profile(pairs)
    distinct = re.compile(r"HashAggregate\(keys=\[doc_a#\d+L?, doc_b#\d+L?\], functions=\[\]\)")
    # partial and final aggregate of the one distinct; the final's rows
    # are the candidate count
    rows = [
        obs._metrics(node)["numOutputRows"]
        for node in obs._nodes(pairs._jdf.queryExecution().executedPlan())
        if distinct.fullmatch(node.simpleString(25))
    ]
    assert rows, "no candidate distinct in the executed plan"
    assert min(rows) < n * (n - 1) / 2 * 0.5, (rows, n)


def _brute_force_pairs(spark, docs, tn, td):
    """Quadratic reference: engine tokenization (shingle_rows) + pure
    Python set algebra — the same IEEE division the operator performs."""
    sh = {}
    for r in shingle_rows(docs).collect():
        sh.setdefault(r.doc_id, set()).add(r.s)
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            o = len(sh[a] & sh[b])
            if o * (td + tn) >= tn * (len(sh[a]) + len(sh[b])):
                out[(a, b)] = o / (len(sh[a]) + len(sh[b]) - o)
    return out


def test_exact_dup_collapse_expands_clone_pairs_correctly(spark):
    """Round-5 scale guard: exact-duplicate texts are collapsed before
    the prefix join and expanded afterwards. Pin the expansion semantics
    against brute force on a clone-heavy corpus: (a) within-group clone
    pairs appear with jaccard exactly 1.0; (b) cross-group pairs appear
    once per clone combination with the representatives' jaccard;
    (c) clones of a shingle-less text (fewer than k tokens) produce NO
    pairs, matching the brute force which never pairs docs without
    shingles."""
    base = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (2, "one two"),  # < k tokens → no shingles
    ]
    rows = []
    for doc_id, text in base:
        for c in range(3):  # 3 exact clones of every text
            rows.append((doc_id + 100 * c, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filtered_pairs(docs, 1, 5).collect()
    }
    brute = _brute_force_pairs(spark, docs, 1, 5)
    assert got == brute
    # shape spot-checks on top of the equality:
    clone_pairs = [(0, 100), (0, 200), (100, 200)]
    for p in clone_pairs:
        assert got[p] == 1.0  # (a)
    assert all(
        (2 + 100 * i, 2 + 100 * j) not in got
        for i in range(3)
        for j in range(3)
        if i < j
    )  # (c)
    # (b): every (clone-of-0, clone-of-1) combination carries the same
    # jaccard as the representative pair (0, 1)
    j01 = got[(0, 1)]
    for a in (0, 100, 200):
        for b in (1, 101, 201):
            key = (min(a, b), max(a, b))
            assert got[key] == j01
