"""Independent-witness properties for the round-4-staged, round-5-promoted
queries — each is oracle-replicated (test_queries_oracle.py, post-promotion);
these tests check the SEMANTICS against a second, independent implementation
or a mathematical invariant, the way SURVEY §5 does for the older families."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES as STAGED_QUERIES
from aws_vpcflowlogs_parquet_spark.sources.tables import load_table

from .conftest import SF_DIR, executed_plan


def test_kcore_equals_python_peeling(spark):
    # independent witness: collect the derived edge set (tiny: 41-node
    # synthetic graph) and peel in plain Python to a FIXPOINT; the
    # bounded-round query must agree (8 rounds suffice here), and every
    # member must retain >= k neighbors inside the core.
    ev = load_table(spark, SF_DIR, "events")
    rows = (
        ev.selectExpr(
            "least(user_id % 41, (2 * user_id + event_id) % 41) AS lo",
            "greatest(user_id % 41, (2 * user_id + event_id) % 41) AS hi",
        )
        .filter("lo != hi")
        .distinct()
        .collect()
    )
    edges = {(r.lo, r.hi) for r in rows}
    k = 3
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in edges if a in keep and b in keep}
        if nxt == edges:
            break
        edges = nxt
    want = {}
    for a, b in edges:
        want[a] = want.get(a, 0) + 1
        want[b] = want.get(b, 0) + 1
    got = {
        r.node: r.core_degree
        for r in STAGED_QUERIES["q_kcore"](spark, SF_DIR).collect()
    }
    assert got == want
    assert all(d >= k for d in got.values())


def test_window_funnel_dominated_by_unwindowed_funnel(spark):
    # the 24h window can only REMOVE conversions relative to q_funnel's
    # order-only chain, and levels must partition all users exactly
    from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

    lv = {
        r.level: r.n_users
        for r in STAGED_QUERIES["q_window_funnel"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    assert sum(lv.values()) == ev.select("user_id").distinct().count()
    funnel = QUERIES["q_funnel"](spark, SF_DIR).collect()[0].asDict()
    n3_unwindowed = funnel["n_purchased_after"]
    assert lv.get(3, 0) <= n3_unwindowed
    # windowed level>=1 equals the unwindowed viewer count (level 1 has
    # no time constraint: its anchor IS the view)
    assert lv.get(1, 0) + lv.get(2, 0) + lv.get(3, 0) == funnel["n_viewed"]


def test_rolling_hll_tracks_exact_rolling_active(spark):
    exact = {
        r.window_day: r.active_7d
        for r in STAGED_QUERIES["q_rolling_active"](spark, SF_DIR).collect()
    }
    est_rows = STAGED_QUERIES["q_rolling_hll"](spark, SF_DIR).collect()
    assert len(est_rows) > 0
    # 16-register HLL: generous 4-sigma-ish envelope (rse ~ 1.04/sqrt(16))
    import datetime

    epoch = datetime.date(1970, 1, 1)
    checked = 0
    for r in est_rows:
        day = epoch + datetime.timedelta(days=int(r.day_idx))
        if day in exact and exact[day] >= 8:
            checked += 1
            rel = abs(r.est_active_7d - exact[day]) / exact[day]
            assert rel < 1.05, (day, r.est_active_7d, exact[day])
    assert checked > 0


def test_gini_equals_exact_fraction_computation(spark):
    o = load_table(spark, SF_DIR, "orders")
    spend = sorted(
        (int(r.x), r.o_custkey)
        for r in o.groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("x")
        )
        .collect()
    )
    n = len(spend)
    tot = sum(x for x, _ in spend)
    num = 2 * sum((i + 1) * x for i, (x, _) in enumerate(spend)) - (n + 1) * tot
    want = Fraction(num, n * tot)
    row = STAGED_QUERIES["q_gini"](spark, SF_DIR).collect()[0]
    assert row.n_customers == n
    assert abs(row.gini - float(want)) < 1e-12
    assert 0.0 <= row.gini <= 1.0


def test_percentile_disc_values_exist_and_rank_correctly(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    rows = STAGED_QUERIES["q_percentile_disc"](spark, SF_DIR).collect()
    data: dict[str, list[int]] = {}
    for r in li.select("l_returnflag", "l_quantity").collect():
        data.setdefault(r.l_returnflag, []).append(int(r.l_quantity))
    for r in rows:
        vals = sorted(data[r.grp])
        n = len(vals)
        for q_num, q_den, got in (
            (1, 4, r.p25), (1, 2, r.p50), (3, 4, r.p75), (19, 20, r.p95)
        ):
            rank = -(-q_num * n // q_den)  # ceil(q*n)
            assert got == vals[rank - 1], (r.grp, q_num, q_den)
            assert got in vals


# --------------------------------------------------- staged plan shapes


def test_staged_tpch_q2_decorrelates_min_subquery(spark):
    # the correlated MIN must plan as an aggregate + join, not a
    # per-row subquery execution
    plan = executed_plan(STAGED_QUERIES["q_tpch_q2"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_staged_tpch_q21_plans_semi_and_anti(spark):
    plan = executed_plan(STAGED_QUERIES["q_tpch_q21"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "Anti" in plan, plan


def test_staged_prefix_filter_has_no_quadratic_join(spark):
    # the entire point: no cartesian/nested-loop pair generation
    docs = load_table(spark, SF_DIR, "documents")
    from aws_vpcflowlogs_parquet_spark.operators.dedup import (
        prefix_filtered_pairs,
    )

    plan = executed_plan(prefix_filtered_pairs(docs, 1, 5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # round-5 verify rewrite: overlap comes from a codegen'd
    # array_intersect over per-doc arrays, not a per-candidate fan-out
    # join + re-aggregation (the arrays ride broadcast/shuffled
    # EQUI-joins on doc ids only)
    assert "array_intersect" in plan, plan


def test_staged_rolling_active_broadcasts_offsets(spark):
    plan = executed_plan(STAGED_QUERIES["q_rolling_active"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the fan-out factor is constant: exactly one scan of events
    assert plan.count("FileScan parquet") == 1, plan


def test_staged_rolling_hll_single_scan(spark):
    plan = executed_plan(STAGED_QUERIES["q_rolling_hll"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" in plan


# ---------------------------------------------------------------------
# Round-6-staged batch (promoted into plans/catalog.py in round 7):
# independent pure-Python witnesses recomputed from raw parquet rows.
# ---------------------------------------------------------------------

import math
from collections import Counter, defaultdict
from datetime import datetime

import duckdb

from aws_vpcflowlogs_parquet_spark.plans.catalog import (
    QUERIES as R6_STAGED,
)

_EPOCH0 = datetime(1970, 1, 1)


def _sec(ts):
    d = ts - _EPOCH0
    return d.days * 86400 + d.seconds


def _raw_events():
    return duckdb.sql(
        f"SELECT event_id, ts, user_id, event_type, value "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()


def _raw_docs():
    return duckdb.sql(
        f"SELECT doc_id, source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()


def test_staged_resource_alloc_matches_python(spark):
    edges = set()
    for eid, _ts, uid, _t, _v in _raw_events():
        x, y = uid % 499, (2 * uid + eid) % 499
        if x != y:
            edges.add((min(x, y), max(x, y)))
    adj = defaultdict(set)
    for x, y in edges:
        adj[x].add(y)
        adj[y].add(x)
    scores = {}
    for a in adj:
        for c in adj:
            if a < c and c not in adj[a]:
                common = adj[a] & adj[c]
                if common:
                    scores[(a, c)] = (
                        len(common),
                        sum(1_000_000 // len(adj[z]) for z in common),
                    )
    expect = sorted(
        ((-ra, a, c, cm) for (a, c), (cm, ra) in scores.items())
    )[:20]
    rows = R6_STAGED["q_resource_alloc"](spark, SF_DIR).collect()
    assert [(r.a, r.c, r.common, r.ra_micro) for r in rows] == [
        (a, c, cm, -nra) for nra, a, c, cm in expect
    ]


def test_staged_rolling_regression_matches_python(spark):
    hourly = Counter()
    hours = set()
    for _e, ts, _u, typ, _v in _raw_events():
        hr = _sec(ts) // 3600
        hours.add(hr)
        if typ == "click":
            hourly[hr] += 1
    series = sorted((h, hourly[h]) for h in hours)
    rows = R6_STAGED["q_rolling_regression"](spark, SF_DIR).collect()
    expect = []
    for i in range(23, len(series)):
        win = series[i - 23 : i + 1]
        n = 24
        sx = sum(h for h, _ in win)
        sy = sum(y for _, y in win)
        sxx = sum(h * h for h, _ in win)
        sxy = sum(h * y for h, y in win)
        expect.append((series[i][0], n * sxy - sx * sy, n * sxx - sx * sx))
    assert [(r.hr, r.num, r.den) for r in rows] == expect
    for r in rows:
        assert abs(r.slope - r.num / r.den) < 1e-12


def test_staged_conversion_curve_matches_python(spark):
    signup = {}
    purchases = defaultdict(list)
    for _e, ts, uid, typ, _v in _raw_events():
        s = _sec(ts)
        if typ == "signup":
            signup[uid] = min(signup.get(uid, s), s)
        elif typ == "purchase":
            purchases[uid].append(s)
    conv = {}
    for uid, s in signup.items():
        after = [p for p in purchases.get(uid, []) if p >= s]
        conv[uid] = (s, min(after) if after else None)
    rows = R6_STAGED["q_conversion_curve"](spark, SF_DIR).collect()
    assert [r.k for r in rows] == [1, 3, 7, 14]
    for r in rows:
        n_conv = sum(
            1
            for s, p in conv.values()
            if p is not None and p - s <= r.k * 86400
        )
        assert (r.n_cohort, r.n_conv, r.rate_micro) == (
            len(conv),
            n_conv,
            (n_conv * 1_000_000) // len(conv),
        )


def test_staged_negative_sampling_matches_python(spark):
    pos = defaultdict(set)
    items = set()
    users = set()
    for eid, _ts, uid, _t, _v in _raw_events():
        pos[uid].add(eid % 1000)
        items.add(eid % 1000)
        users.add(uid)
    chosen = {}
    for uid in users:
        neg = items - pos[uid]
        if neg:
            chosen[uid] = min(neg)
    bands = defaultdict(list)
    for item in chosen.values():
        bands[item % 10].append(item)
    rows = R6_STAGED["q_negative_sampling"](spark, SF_DIR).collect()
    assert [r.item_band for r in rows] == sorted(bands)
    for r in rows:
        xs = bands[r.item_band]
        assert (r.n_users, r.min_item, r.max_item) == (
            len(xs),
            min(xs),
            max(xs),
        )


def test_staged_weighted_jaccard_matches_python(spark):
    tf = defaultdict(Counter)
    for _d, src, text in _raw_docs():
        tf[src].update(t for t in text.lower().split(" ") if t)
    totals = {s: sum(c.values()) for s, c in tf.items()}
    rows = R6_STAGED["q_weighted_jaccard"](spark, SF_DIR).collect()
    for r in rows:
        smin = sum(
            min(tf[r.src_a][t], tf[r.src_b][t]) for t in tf[r.src_a]
        )
        smax = totals[r.src_a] + totals[r.src_b] - smin
        assert (r.sum_min, r.sum_max, r.wj_micro) == (
            smin,
            smax,
            (smin * 1_000_000) // smax,
        )
        assert abs(r.weighted_jaccard - smin / smax) < 1e-12


def test_staged_snapshot_diff_matches_python(spark):
    base = {
        eid: math.floor(v * 100.0 + 0.5)
        for eid, _ts, _u, _t, v in _raw_events()
    }
    v1 = {k: c for k, c in base.items() if k % 13 != 0}
    v2 = {
        k: c + (1 if k % 7 == 0 else 0)
        for k, c in base.items()
        if k % 11 != 0
    }
    agg = defaultdict(lambda: [0, 0, 0])
    for k in set(v1) | set(v2):
        if k not in v1:
            st = "added"
        elif k not in v2:
            st = "removed"
        elif v1[k] != v2[k]:
            st = "changed"
        else:
            st = "same"
        a = agg[st]
        a[0] += 1
        a[1] += v1.get(k, 0)
        a[2] += v2.get(k, 0)
    rows = R6_STAGED["q_snapshot_diff"](spark, SF_DIR).collect()
    assert {r.status: (r.n, r.cents_v1, r.cents_v2) for r in rows} == {
        st: tuple(a) for st, a in agg.items()
    }


def test_staged_lag_features_matches_python(spark):
    per_user = defaultdict(list)
    for eid, ts, uid, typ, v in _raw_events():
        per_user[uid].append(
            (_sec(ts) * 1_000_000 + (ts.microsecond), eid, typ,
             math.floor(v * 100.0 + 0.5))
        )
    expect = {}
    for uid, seq in per_user.items():
        seq.sort()
        for i, (_us, eid, _typ, cents) in enumerate(seq):
            lag1 = seq[i - 1][3] if i >= 1 else None
            lag2 = seq[i - 2][3] if i >= 2 else None
            sum3 = sum(s[3] for s in seq[max(0, i - 2) : i + 1])
            nxt = 1 if i + 1 < len(seq) and seq[i + 1][2] == "purchase" else 0
            expect[eid] = (uid, cents, lag1, lag2, sum3, nxt)
    rows = R6_STAGED["q_lag_features"](spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert (
            r.user_id,
            r.cents,
            r.lag1,
            r.lag2,
            r.sum3,
            r.next_purchase,
        ) == expect[r.event_id]


def test_staged_calendar_dim_matches_python(spark):
    days = Counter()
    for _e, ts, _u, _t, _v in _raw_events():
        days[ts.date()] += 1
    d0, d1 = min(days), max(days)
    rows = R6_STAGED["q_calendar_dim"](spark, SF_DIR).collect()
    from datetime import timedelta

    span = [(d0 + timedelta(days=i)) for i in range((d1 - d0).days + 1)]
    assert [r.day for r in rows] == [d.strftime("%Y-%m-%d") for d in span]
    for r, d in zip(rows, span):
        assert r.dow == d.weekday()
        assert r.month == d.month
        assert r.is_weekend == (1 if d.weekday() >= 5 else 0)
        assert r.n_events == days.get(d, 0)


def test_staged_dim_stats_matches_python(spark):
    vecs = duckdb.sql(
        f"SELECT embedding FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchall()
    dims = defaultdict(list)
    for (v,) in vecs:
        for i, x in enumerate(v):
            dims[i + 1].append(float(x))
    rows = R6_STAGED["q_dim_stats"](spark, SF_DIR).collect()
    assert [r.dim for r in rows] == sorted(dims)
    for r in rows:
        xs = dims[r.dim]
        scaled = sum(math.floor(x * 1_000_000.0 + 0.5) for x in xs)
        assert (r.n, r.min_v, r.max_v, r.n_neg) == (
            len(xs),
            min(xs),
            max(xs),
            sum(1 for x in xs if x < 0),
        )
        assert abs(r.mean_v - (scaled / 1_000_000.0) / len(xs)) < 1e-12


def test_staged_pit_audit_matches_python(spark):
    per_user = defaultdict(list)
    for eid, ts, uid, typ, _v in _raw_events():
        if typ in ("purchase", "view"):
            per_user[uid].append((_sec(ts), 0 if typ == "view" else 1, eid))
    buckets = Counter()
    for uid, seq in per_user.items():
        seq.sort()
        ft = None
        for t, is_label, _eid in seq:
            if is_label == 0:
                ft = t
            else:
                if ft is None:
                    buckets["missing"] += 1
                elif t - ft <= 3600:
                    buckets["fresh_1h"] += 1
                elif t - ft <= 86400:
                    buckets["fresh_1d"] += 1
                else:
                    buckets["stale"] += 1
    rows = R6_STAGED["q_pit_audit"](spark, SF_DIR).collect()
    assert {r.bucket: r.n_labels for r in rows} == dict(buckets)
    assert "leak" not in {r.bucket for r in rows}  # as-of never leaks


def test_staged_compaction_plan_matches_python(spark):
    orders = duckdb.sql(
        f"SELECT o_orderkey, o_orderdate, o_totalprice "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    files = defaultdict(int)
    for ok, od, tp in orders:
        files[(od.strftime("%Y-%m"), ok % 16)] += math.floor(tp + 0.5)
    months = defaultdict(list)
    for (m, slot), b in files.items():
        months[m].append((slot, b))
    rows = R6_STAGED["q_compaction_plan"](spark, SF_DIR).collect()
    assert [r.month for r in rows] == sorted(months)
    for r in rows:
        fs = sorted(months[r.month])
        groups = defaultdict(int)
        cum = 0
        for _slot, b in fs:
            groups[cum // 25_000_000] += b
            cum += b
        assert (r.n_files, r.total_bytes, r.n_groups, r.max_group_bytes) == (
            len(fs),
            sum(b for _s, b in fs),
            len(groups),
            max(groups.values()),
        )


def test_staged_tokenizer_fertility_matches_python(spark):
    import re

    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
    stats = defaultdict(lambda: [0, 0, 0, 0])
    for lang, text in duckdb.sql(
        f"SELECT lang, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall():
        st = stats[lang]
        st[0] += 1
        st[1] += len([t for t in text.lower().split(" ") if t])
        st[2] += len(pat.findall(text.lower()))
        st[3] += len(text.replace(" ", ""))
    rows = R6_STAGED["q_tokenizer_fertility"](spark, SF_DIR).collect()
    assert [r.lang for r in rows] == sorted(stats)
    for r in rows:
        n, words, subtoks, chars = stats[r.lang]
        assert (r.n_docs, r.n_words, r.n_subtoks, r.n_chars) == (
            n,
            words,
            subtoks,
            chars,
        )
        assert r.fertility_micro == (subtoks * 1_000_000) // words
        assert r.chars_per_subtok_micro == (chars * 1_000_000) // subtoks
