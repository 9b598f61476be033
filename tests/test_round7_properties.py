"""Round-7 distributed twins of the exact-quantile family (r6 VERDICT
item 2): independent witnesses that the histogram-bucketed forms agree
with their exact audit twins up to the documented bin-granularity, plus
plan-shape pins that the only window in each runs over the BIN aggregate
(bounded by value domain), never over per-entity rows."""

from __future__ import annotations

import duckdb

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan, no_python


def _n_customers() -> int:
    return duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM "
        f"'{SF_DIR}/orders.parquet'"
    ).fetchone()[0]


def test_gini_bucketed_is_grouped_lower_bound_of_exact(spark):
    # The grouped-data (trapezoidal) Lorenz curve is the chord polygon
    # of the true curve, so its Gini NEVER exceeds the exact one and
    # trails it by at most the within-bin inequality — both directions
    # checked against the exact audit twin on the same data.
    exact = QUERIES["q_gini"](spark, SF_DIR).collect()[0]
    bucketed = QUERIES["q_gini_bucketed"](spark, SF_DIR).collect()[0]
    assert bucketed["n_customers"] == exact["n_customers"] == _n_customers()
    assert bucketed["gini"] <= exact["gini"] + 1e-12
    assert exact["gini"] - bucketed["gini"] < 0.05
    # the shipped num/den are the exact integer decomposition
    assert bucketed["gini"] == bucketed["gini_num"] / bucketed["gini_den"]


def test_lorenz_bucketed_monotone_complete_partition(spark):
    rows = sorted(
        QUERIES["q_lorenz_bucketed"](spark, SF_DIR).collect(),
        key=lambda r: r["decile"],
    )
    assert sum(r["n_customers"] for r in rows) == _n_customers()
    shares = [r["cum_share"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-12
    assert all(1 <= r["decile"] <= 10 for r in rows)
    # bucket-granular decile sizes: within one bin of N/10 per decile is
    # not guaranteed, but the top decile must hold at least its share
    assert rows[-1]["cum_share"] - (
        shares[-2] if len(shares) > 1 else 0.0
    ) > 0.0


def test_abc_bucketed_totals_match_exact_twin(spark):
    exact = {
        r["abc_class"]: r
        for r in QUERIES["q_abc_pareto"](spark, SF_DIR).collect()
    }
    bucketed = {
        r["abc_class"]: r
        for r in QUERIES["q_abc_pareto_bucketed"](spark, SF_DIR).collect()
    }
    # class boundaries move by at most one bin, but the partition is
    # total on both sides: part counts and revenue mass reconcile
    assert sum(r["n_parts"] for r in bucketed.values()) == sum(
        r["n_parts"] for r in exact.values()
    )
    assert sum(r["class_cents"] for r in bucketed.values()) == sum(
        r["class_cents"] for r in exact.values()
    )
    assert (
        abs(sum(r["revenue_share"] for r in bucketed.values()) - 1.0) < 1e-9
    )
    # descending-value classes: the A class (if present) out-earns C
    # per part on average — the Pareto shape survives bucketing
    if "A" in bucketed and "C" in bucketed:
        a, c = bucketed["A"], bucketed["C"]
        assert a["class_cents"] * c["n_parts"] > c["class_cents"] * a["n_parts"]


def test_bucketed_twins_window_over_bins_only(spark):
    # each twin's Window consumes a HashAggregate output (the histogram
    # — bounded by value domain / bin width), never the raw scan: plans
    # print root-first, so the aggregate printing AFTER the window
    # proves the window sits on top of it
    for name in (
        "q_gini_bucketed",
        "q_lorenz_bucketed",
        "q_abc_pareto_bucketed",
    ):
        plan = executed_plan(QUERIES[name](spark, SF_DIR))
        assert "Window" in plan, (name, plan)
        assert plan.index("Window") < plan.rindex("HashAggregate"), (
            name,
            plan,
        )
        assert no_python(plan), (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


# ---------------------------------------------------------------------
# Degree-guarded wedge primitive (r6 VERDICT item 5): the salted path
# must produce the identical pair multiset as the plain self-join, and
# its plan must actually spread the center key across salts.
# ---------------------------------------------------------------------


def _sym_graph(spark, mod=41):
    from aws_vpcflowlogs_parquet_spark.operators.graph import sym_edges, undirected_edges
    from aws_vpcflowlogs_parquet_spark.sources.tables import load_table

    return sym_edges(undirected_edges(load_table(spark, SF_DIR, "events"), mod))


def test_wedges_salted_path_identical_to_plain(spark):
    from aws_vpcflowlogs_parquet_spark.operators.graph import wedges

    sym = _sym_graph(spark).persist()
    try:
        plain = wedges(sym, hub_threshold=10**9)  # never salts
        salted = wedges(sym, hub_threshold=0)  # always salts
        assert salted.columns == plain.columns == ["a", "z", "c"]
        assert plain.exceptAll(salted).count() == 0
        assert salted.exceptAll(plain).count() == 0
        assert plain.count() > 0
    finally:
        sym.unpersist()


def test_wedges_salted_plan_spreads_center_key(spark):
    from aws_vpcflowlogs_parquet_spark.operators.graph import wedges

    sym = _sym_graph(spark)
    salted = wedges(sym, hub_threshold=0, n_salts=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # the join must key on (z, _salt) — one hub's wedges span 8 shuffle
    # partitions — and the replicated side shows the salt explode
    assert "_salt" in plan, plan
    assert "Explode" in plan or "explode" in plan, plan
    plain = wedges(sym, hub_threshold=10**9)
    assert "_salt" not in plain._jdf.queryExecution().executedPlan().toString()


def test_wedge_consumers_ride_the_guarded_primitive():
    # source-level pin: the three wedge queries build on wedges(), so
    # the skew guard cannot silently drift out of any of them (the
    # registry stores @register wrappers, so slice the module source)
    import inspect
    import re

    from aws_vpcflowlogs_parquet_spark.plans import catalog

    src = inspect.getsource(catalog)
    for q in ("q_graph_2hop", "q_node_jaccard", "q_resource_alloc"):
        m = re.search(rf"\ndef {q}\(.*?(?=\n@register|\ndef )", src, re.S)
        assert m, q
        assert "wedges(" in m.group(0), q


# ---------------------------------------------------------------------
# Round-7 new mechanisms: independent pure-Python witnesses recomputed
# from the raw parquet, plus plan/behavior pins.
# ---------------------------------------------------------------------


def test_embedding_covariance_matches_numpy(spark):
    # ground truth straight from the parquet with numpy, same lattice
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    x = np.asarray(
        tbl.column("embedding").combine_chunks().flatten().to_numpy(
            zero_copy_only=False
        ),
        dtype=np.float64,
    ).reshape(len(tbl), 64)
    outer = x[:, :, None] * x[:, None, :]
    want = np.floor(outer * 1e12 + 0.5).astype(np.int64).sum(axis=0)
    rows = QUERIES["q_embedding_covariance"](spark, SF_DIR).collect()
    assert len(rows) == 64 * 65 // 2
    for r in rows[:200]:
        assert r["gram_q"] == want[r["dim_i"] - 1, r["dim_j"] - 1], (
            r["dim_i"],
            r["dim_j"],
        )
    assert all(r["n"] == len(tbl) for r in rows)


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    r1 = QUERIES["q_bootstrap_ci"](spark, SF_DIR).collect()[0]
    r2 = QUERIES["q_bootstrap_ci"](spark, SF_DIR).collect()[0]
    assert tuple(r1) == tuple(r2)  # pure function of the data
    assert r1["ci_lo_milli"] <= r1["ci_hi_milli"]
    # a 90% bootstrap CI on n>1000 rows should bracket the point mean
    assert r1["ci_lo_milli"] <= r1["mean_milli"] <= r1["ci_hi_milli"]
    # and be TIGHT relative to the mean at this n (width < 20% of mean)
    assert (r1["ci_hi_milli"] - r1["ci_lo_milli"]) < 0.2 * r1["mean_milli"]


def test_weighted_sample_favors_heavy_documents(spark):
    import duckdb as dk

    rows = QUERIES["q_weighted_sample"](spark, SF_DIR).collect()
    assert len(rows) == 20
    med_all = dk.sql(
        f"SELECT median(n_chars) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    med_sample = sorted(r["weight"] for r in rows)[10]
    # size-biased inclusion: the sample median length exceeds the corpus's
    assert med_sample > med_all
    # priorities are the selection key: returned rows are the global min-20
    worst = max(r["priority"] for r in rows)
    n_better = dk.sql(
        f"""SELECT COUNT(*) FROM (
          SELECT CAST((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 ::BIGINT * 1000000) // GREATEST(n_chars, 1) AS BIGINT) AS p
          FROM '{SF_DIR}/documents.parquet') WHERE p < {worst}"""
    ).fetchone()[0]
    assert n_better < 20


def test_scc_ring_is_one_component_and_partition_is_total(spark):
    rows = QUERIES["q_scc"](spark, SF_DIR).collect()
    by_scc = {r["scc"]: r["n_nodes"] for r in rows}
    # the deterministic 50-ring collapses to ONE component labeled by its
    # least node (0) with all 50 members (plus any event-derived nodes
    # that fell into a cycle through it)
    assert by_scc.get(0, 0) >= 50
    # component sizes partition the node set
    import duckdb as dk

    n_nodes = dk.sql(
        f"""WITH e AS (
          SELECT DISTINCT s, d FROM (
            SELECT user_id % 1999 AS s, (3*user_id + event_id) % 1999 AS d
            FROM '{SF_DIR}/events.parquet'
            WHERE event_id % 101 = 0
              AND user_id % 1999 != (3*user_id + event_id) % 1999
            UNION ALL
            SELECT i, (i + 1) % 50 FROM (SELECT unnest(generate_series(0, 49)) AS i)
          ))
        SELECT COUNT(*) FROM (SELECT s FROM e UNION SELECT d FROM e)"""
    ).fetchone()[0]
    assert sum(by_scc.values()) == n_nodes


def test_embedding_covariance_plan_is_arrow_partition_local(spark):
    plan = executed_plan(QUERIES["q_embedding_covariance"](spark, SF_DIR))
    # the corpus-side kernel is Arrow-batched (mapInArrow), and the only
    # shuffle after it carries cell partials, merged by a hash agg
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan, plan
    assert "HashAggregate" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bpe_train_rounds_are_monotone_and_consistent(spark):
    rows = sorted(
        QUERIES["q_bpe_train"](spark, SF_DIR).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == [1, 2, 3]
    # merge scores are non-increasing across rounds: round k+1's best
    # pair was available (or created) after round k picked the max
    # (all-adjacent counts can only grow via NEW symbols, whose pair
    # counts are bounded by the merged pair's own count)
    counts = [r["merge_count"] for r in rows]
    assert counts[0] >= counts[1] >= counts[2] > 0
    # every merge shrinks the corpus by AT LEAST the number of applied
    # (non-overlapping) occurrences and at most merge_count
    sizes = [r["corpus_symbols"] for r in rows]
    assert sizes[0] > sizes[1] > sizes[2] > 0
    # merged symbols are fresh capitals, pairs are 2 chars
    assert all(len(r["best_pair"]) == 2 for r in rows)


def test_bpe_train_round1_pair_matches_single_step_query(spark):
    # round 1 of the trainer IS q_bpe_merge's top-1 (same count, same
    # tie-break) — the two queries must agree on it
    top = QUERIES["q_bpe_merge"](spark, SF_DIR).collect()[0]
    r1 = sorted(
        QUERIES["q_bpe_train"](spark, SF_DIR).collect(),
        key=lambda r: r["step"],
    )[0]
    assert r1["best_pair"] == top["pair"]
    assert r1["merge_count"] == top["merge_count"]


def test_pruning_stats_partitions_and_bounds(spark):
    import duckdb as dk

    rows = QUERIES["q_pruning_stats"](spark, SF_DIR).collect()
    assert len(rows) == 10
    n_files = rows[0]["n_files"]
    assert all(r["n_files"] == n_files for r in rows)
    total_rows = dk.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()[0]
    for r in rows:
        assert 0 <= r["n_pruned"] <= r["n_files"]
        assert 0 <= r["rows_scanned"] <= total_rows
        # pruned files contribute no scanned rows; if nothing is pruned
        # the full table scans
        if r["n_pruned"] == 0:
            assert r["rows_scanned"] == total_rows


def test_new_mechanism_plan_shapes(spark):
    # q_bootstrap_ci: the 32x fan-out is a broadcast nested-loop of a
    # 32-row grid (no shuffle of the fact until the rep agg), and the
    # CI rank runs over a 32-row frame
    plan = executed_plan(QUERIES["q_bootstrap_ci"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert no_python(plan), plan
    # q_weighted_sample: global bottom-20 compiles to TakeOrdered, not
    # a full sort
    plan = executed_plan(QUERIES["q_weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert no_python(plan), plan
    # q_pruning_stats: both the global range and the band grid broadcast
    plan = executed_plan(QUERIES["q_pruning_stats"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert no_python(plan), plan
    assert "SortMergeJoin" not in plan, plan
