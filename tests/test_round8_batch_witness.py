"""Pure-Python witnesses for the round-8 mechanism queries at sf0.001 —
independent recomputation (no SQL on either engine), the third leg of
the per-batch validation loop."""

from __future__ import annotations

import collections
import datetime
import json
import math

import pytest

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan


def test_recursive_cte_depth_is_digit_count(spark, duck):
    rows = duck.sql(
        f"SELECT c_custkey, floor(c_acctbal * 100 + 0.5)::BIGINT "
        f"FROM '{SF_DIR}/customer.parquet'"
    ).fetchall()
    # witness: depth of node c == len(str(c)) - 1 for this forest
    per_depth = collections.Counter()
    cents = collections.Counter()
    for c, ac in rows:
        d = len(str(c)) - 1
        per_depth[d] += 1
        cents[d] += ac
    got = {
        r.depth: (r.n_nodes, r.acctbal_cents)
        for r in QUERIES["q_recursive_cte"](spark, SF_DIR).collect()
    }
    assert got == {d: (per_depth[d], cents[d]) for d in per_depth}


def test_variant_extract_against_python_json(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, event_type, props "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    want = collections.Counter()
    idsum = collections.Counter()
    for eid, et, props in rows:
        k = json.loads(props)["k"]
        key = (et, k // 10)
        want[key] += 1
        idsum[key] += eid
    got = {
        (r.tag, r.k_bucket): (r.n, r.id_sum)
        for r in QUERIES["q_variant_extract"](spark, SF_DIR).collect()
    }
    assert got == {k: (want[k], idsum[k]) for k in want}


def test_state_introspect_equals_python_groupby(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    n = collections.Counter()
    s = collections.Counter()
    for uid, v in rows:
        b = uid % 50
        n[b] += 1
        s[b] += int(math.floor(v * 100.0 + 0.5))
    got = {
        r.user_bucket: (r.n_events, r.sum_cents)
        for r in QUERIES["q_state_introspect"](spark, SF_DIR).collect()
    }
    assert got == {b: (n[b], s[b]) for b in n}


def test_kaplan_meier_matches_python_estimator(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, MIN(ts), MAX(ts) "
        f"FROM '{SF_DIR}/events.parquet' GROUP BY user_id"
    ).fetchall()
    d = collections.Counter()
    c = collections.Counter()
    for uid, lo, hi in rows:
        t = (hi.date() - lo.date()).days if isinstance(
            lo, datetime.datetime
        ) else (hi - lo).days
        c[t] += 1
        if uid % 4 != 0:
            d[t] += 1
    total = sum(c.values())
    # ascending-t fold, float64 — the exact sequence both engines run
    surv = {}
    acc, cum_below = 1.0, 0
    for t in sorted(c):
        n_risk = total - cum_below
        cum_below += c[t]
        if d[t] > 0:
            acc = acc * (1.0 - float(d[t]) / float(n_risk))
            surv[t] = (d[t], n_risk, acc)
    got = {
        r.t_days: (r.n_events, r.n_risk, r.survival)
        for r in QUERIES["q_kaplan_meier"](spark, SF_DIR).collect()
    }
    assert set(got) == set(surv)
    for t, (dd, nn, ss) in surv.items():
        gd, gn, gs = got[t]
        assert (gd, gn) == (dd, nn)
        assert gs == pytest.approx(ss, rel=0, abs=0)  # bit-exact fold
    # survival is non-increasing in t
    ordered = [got[t][2] for t in sorted(got)]
    assert all(a >= b for a, b in zip(ordered, ordered[1:]))


def test_hits_matches_python_power_iteration(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    edges = set()
    for uid, eid in rows:
        s, t = uid % 499, (3 * uid + eid) % 499
        if s != t:
            edges.add((s, t))
    a1 = collections.Counter()
    for _, t in edges:
        a1[t] += 1
    h1 = collections.Counter()
    for s, t in edges:
        h1[s] += a1[t]
    a2 = collections.Counter()
    for s, t in edges:
        a2[t] += h1[s]
    want = sorted(
        ((n, a2[n], a1[n], h1[n]) for n in a2),
        key=lambda r: (-r[1], r[0]),
    )[:20]
    got = [
        (r.node, r.a2, r.a1, r.h1)
        for r in QUERIES["q_hits"](spark, SF_DIR).collect()
    ]
    assert got == want


def test_dbscan_grid_matches_python_union_find(spark, duck):
    rows = duck.sql(
        f"SELECT embedding[1], embedding[2] "
        f"FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchall()
    counts = collections.Counter()
    for x, y in rows:
        counts[
            (math.floor(float(x) / 0.25), math.floor(float(y) / 0.25))
        ] += 1
    core = {xy: n for xy, n in counts.items() if n >= 3}
    parent = {xy: xy for xy in core}

    def find(p):
        while parent[p] != p:
            parent[p] = parent[parent[p]]
            p = parent[p]
        return p

    for (cx, cy) in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb in core:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    clusters = collections.defaultdict(lambda: [0, 0])
    for xy, n in core.items():
        root = find(xy)
        cid = (root[0] + 500) * 100000 + (root[1] + 500)
        clusters[cid][0] += 1
        clusters[cid][1] += n
    got = {
        r.cluster_id: (r.n_cells, r.n_points)
        for r in QUERIES["q_dbscan_grid"](spark, SF_DIR).collect()
    }
    assert got == {cid: tuple(v) for cid, v in clusters.items()}


def test_collation_group_folds_cases_exactly(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, event_type, user_id "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    groups = collections.defaultdict(lambda: [None, 0, set(), set()])
    for eid, et, uid in rows:
        name = et.upper() if eid % 2 == 0 else et
        g = groups[name.lower()]
        g[0] = name if g[0] is None else min(g[0], name)
        g[1] += 1
        g[2].add(name)
        g[3].add(uid)
    want = {
        g[0]: (g[1], len(g[2]), len(g[3])) for g in groups.values()
    }
    got = {
        r.canonical: (r.n, r.n_raw_forms, r.n_users)
        for r in QUERIES["q_collation_group"](spark, SF_DIR).collect()
    }
    assert got == want


def test_analyze_stats_are_exact(spark, duck):
    (n, mn_c, mx_c, mn_o, mx_o) = duck.sql(
        f"SELECT COUNT(*), MIN(o_custkey), MAX(o_custkey), "
        f"MIN(o_orderkey), MAX(o_orderkey) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()
    got = {
        r.col_name: (r.min_val, r.max_val, r.n_nulls, r.n_rows)
        for r in QUERIES["q_analyze_stats"](spark, SF_DIR).collect()
    }
    assert got == {
        "o_custkey": (mn_c, mx_c, 0, n),
        "o_orderkey": (mn_o, mx_o, 0, n),
    }


# ------------------------------------------------------ plan shapes

def test_hits_broadcasts_scores_and_takes_ordered(spark):
    plan = executed_plan(QUERIES["q_hits"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_variant_extract_stays_jvm(spark):
    plan = executed_plan(QUERIES["q_variant_extract"](spark, SF_DIR))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, plan
    assert "variant_get" in plan, plan


def test_dbscan_grid_labels_join_broadcasts(spark):
    plan = executed_plan(QUERIES["q_dbscan_grid"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pipe_syntax_compiles_to_pushdown_agg(spark):
    plan = executed_plan(QUERIES["q_pipe_syntax"](spark, SF_DIR))
    assert "HashAggregate" in plan, plan
    # the status filter reaches the scan as a pushed data filter
    assert "o_orderstatus" in plan.split("FileScan", 1)[1], plan


def test_interval_coverage_matches_python_sweep(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, epoch_us(ts) FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for uid, t in rows:
        per[uid % 50].append((t, t + 600_000_000))
    want = {}
    for ub, ivs in per.items():
        bounds = sorted(
            [(s, -1) for s, _ in ivs] + [(e, 1) for _, e in ivs]
        )  # (-1 encodes a START so starts sort before ends at equal t)
        covered = segs = active = 0
        for (t, d), nxt in zip(bounds, bounds[1:] + [(None, None)]):
            if d == -1:
                active += 1
                if active == 1:
                    segs += 1
            else:
                active -= 1
            if active > 0 and nxt[0] is not None:
                covered += nxt[0] - t
        want[ub] = (covered, segs, len(ivs))
    got = {
        r.user_bucket: (r.covered_us, r.n_segments, r.n_intervals)
        for r in QUERIES["q_interval_coverage"](spark, SF_DIR).collect()
    }
    assert got == want


def test_spatial_grid_join_matches_bruteforce(spark, duck):
    pts = duck.sql(
        f"SELECT vec_id, embedding[1], embedding[2] "
        f"FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchall()
    want = {}
    for i in range(20):
        x0 = -1.0 + float(i % 5) * 0.37
        y0 = -1.0 + float(i // 5) * 0.43
        inside = [
            v
            for v, x, y in pts
            if x0 <= float(x) < x0 + 0.3 and y0 <= float(y) < y0 + 0.2
        ]
        want[i] = (len(inside), sum(inside))
    got = {
        r.rect_id: (r.n_points, r.id_sum)
        for r in QUERIES["q_spatial_grid_join"](spark, SF_DIR).collect()
    }
    assert got == want


def test_spatial_grid_join_has_no_nested_loop(spark):
    plan = executed_plan(QUERIES["q_spatial_grid_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan.split("rect_id", 1)[0], plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_sql_scripting_matches_python_exponential_search(spark, duck):
    prices = [
        r[0]
        for r in duck.sql(
            f"SELECT o_totalprice FROM '{SF_DIR}/orders.parquet'"
        ).fetchall()
    ]
    thr, iters = 100.0, 0
    while sum(1 for p in prices if p > thr) >= 100:
        thr *= 2
        iters += 1
    row = QUERIES["q_sql_scripting"](spark, SF_DIR).collect()[0]
    assert (row.threshold, row.iters) == (thr, iters)
    assert row.n_above == sum(1 for p in prices if p > thr)


def test_runs_test_matches_python_sweep(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, value, ts, event_id "
        f"FROM '{SF_DIR}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    per = collections.defaultdict(list)
    for uid, v, *_ in rows:
        per[uid].append(1 if v >= 0.5 else 0)
    agg = collections.defaultdict(lambda: [0, 0, 0, 0])  # runs,plus,n
    for uid, signs in per.items():
        b = uid % 50
        runs = sum(
            1 for i, s in enumerate(signs) if i == 0 or s != signs[i - 1]
        )
        g = agg[b]
        g[0] += runs
        g[1] += sum(signs)
        g[2] += len(signs)
    got = {
        r.user_bucket: (r.n_runs, r.n_plus, r.n_minus, r.expected_num, r.n)
        for r in QUERIES["q_runs_test"](spark, SF_DIR).collect()
    }
    want = {
        b: (g[0], g[1], g[2] - g[1], 2 * g[1] * (g[2] - g[1]), g[2])
        for b, g in agg.items()
    }
    assert got == want
