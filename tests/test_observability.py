"""Metric-level scale assertions: beyond plan TEXT (test_plan_quality),
the executed SQLMetrics must show the data volumes we claim — map-side
combine actually combining, scans actually pruning, nothing spilling."""

from __future__ import annotations

from aws_vpcflowlogs_parquet_spark.observability import profile
from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR


def test_mapside_combine_shrinks_shuffle(spark):
    # TPC-H Q1 shape: thousands of rows scanned, but only one partial
    # row per (group × task) may cross the wire
    d = profile(QUERIES["q_agg_sum_group"](spark, SF_DIR))
    assert d["scan_rows"] >= 5000, d
    assert 0 < d["shuffle_records"] <= 64, d
    assert d["spill_bytes"] == 0, d


def test_topk_ships_only_heap_contents(spark):
    # TakeOrderedAndProject: per-partition heaps of k rows, so shuffle
    # records are bounded by k × partitions, never the corpus
    d = profile(QUERIES["q_topk"](spark, SF_DIR))
    assert d["rows_out"] == 10, d
    assert d["shuffle_records"] < d["scan_rows"] / 10, d


def test_broadcast_join_shuffles_only_agg_partials(spark):
    # dims broadcast, so the only records crossing the wire are the
    # downstream aggregation's partials — never the joined fact rows
    d = profile(QUERIES["q_join_broadcast"](spark, SF_DIR))
    assert d["rows_out"] > 0, d
    # partial-agg rows are bounded by groups × tasks, independent of the
    # joined row count
    assert d["shuffle_records"] <= 64, d


def test_corpus_gate_filters_before_dedup_shuffle(spark):
    # the quality gate must drop rows BEFORE the dedup shuffle: records
    # shuffled < the documents table's 500 rows at sf0.001. (Row-group
    # stats can't prune a single-row-group file, so the scan still
    # produces 500 — the gate's effect shows at the exchange.)
    d = profile(QUERIES["q_corpus_build"](spark, SF_DIR))
    assert 0 < d["shuffle_records"] < 500, d


def test_sketch_profiler_state_is_fixed_size(spark):
    # the whole point of the sketch profiler: the exact form shuffles
    # every distinct key, the sketch form ships one fixed-size register
    # row per task — metric-level proof, not just plan text. Both forms
    # now carry a scan-parallelization exchange (catalog._fan) that is
    # row-PRESERVING (moves each source row once, never a per-key
    # expansion), so the pins are per-exchange: every sketch exchange is
    # either the fan (<= scan rows) or the register merge (<= one row
    # per task).
    exact = profile(QUERIES["q_table_profile"](spark, SF_DIR))
    sketch = profile(QUERIES["q_table_profile_sketch"](spark, SF_DIR))
    assert exact["shuffle_records"] > 1000, exact
    assert sketch["exchange_records"], sketch
    assert all(
        n <= 32 or n <= sketch["scan_rows"]
        for n in sketch["exchange_records"]
    ), sketch
    # the aggregation exchange itself stays fixed-size: the smallest
    # exchange is the register merge, one row per task at most
    assert min(sketch["exchange_records"]) <= 32, sketch


def test_audio_energy_no_shuffle(spark):
    # 1:N mapInPandas fan-out stays partition-local: zero exchanges
    d = profile(QUERIES["q_audio_energy"](spark, SF_DIR))
    assert d["n_exchanges"] == 0, d
    assert d["rows_out"] > 0, d


def test_tracked_caches_released_at_query_boundary(spark):
    """ADVICE r5: prefix_filtered_pairs (and pagerank/IVF/shingle
    builders) persist multi-consumer intermediates they cannot unpersist
    themselves. The @register wrapper releases the registry when the
    NEXT query is built, so cached intermediates never accumulate past
    one query's working set over a 220-query session."""
    from aws_vpcflowlogs_parquet_spark.caching import tracked_cache_count

    QUERIES["q_near_dup_rate"](spark, SF_DIR).collect()
    after_dedup = tracked_cache_count()
    assert after_dedup >= 3  # marked + shingle rows + pair relation

    QUERIES["q_pagerank"](spark, SF_DIR).collect()
    after_pagerank = tracked_cache_count()
    # the dedup query's caches were released; only pagerank's three
    # loop invariants (edges, nodes, outdeg) remain live
    assert after_pagerank == 3, (after_dedup, after_pagerank)

    # a query with no tracked persists empties the registry entirely
    QUERIES["q_topk"](spark, SF_DIR).collect()
    assert tracked_cache_count() == 0


def test_profile_reports_codegen_compiles_once(spark):
    # a frame's generated classes compile on its first action (the odd
    # literal is inlined into the generated source, so no earlier test
    # compiled the same class); the second profile finds them all cached
    df = spark.range(2000).selectExpr(
        "id % 13 AS k", "id * 7919 + 104729 AS v"
    ).groupBy("k").agg({"v": "sum"})
    first, second = profile(df), profile(df)
    assert first["rows_out"] == second["rows_out"] == 13
    assert first["codegen_compiles"] > 0, first
    assert first["codegen_compile_ms"] > 0, first
    assert second["codegen_compiles"] == 0, second
    assert second["codegen_compile_ms"] == 0, second
