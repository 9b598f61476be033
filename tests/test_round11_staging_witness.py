"""Pure-Python witnesses for the 19 round-11-staged queries (promoted
to plans/catalog.py in round 12) at sf0.001 — independent
recomputation, the third leg next to the Spark build and the DuckDB
oracle, written at staging time so promotion to the catalog is a move,
not a build — plus plan pins (now pointed at the catalog registry)."""

from __future__ import annotations

import collections
import math

import pytest

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES as _CAT

_R11_PROMOTED = sorted(
    n for n in _CAT
    if n in {
        "q_retry_backoff_conformance", "q_krippendorff_alpha",
        "q_join_order_plan", "q_newsvendor", "q_pinball_eval",
        "q_rrf_fusion", "q_spc_control_chart", "q_kendall_w",
        "q_harmonic_centrality", "q_markov_power", "q_local_matching",
        "q_business_days", "q_hill_tail_index", "q_fiscal_445",
        "q_dup_invoice", "q_wilcoxon_signed", "q_tiered_billing",
        "q_lsh_tuning_curve", "q_churn_labels",
    }
)
STAGED_QUERIES = {n: _CAT[n] for n in _R11_PROMOTED}

from .conftest import SF_DIR, executed_plan


def _events(duck):
    return duck.sql(
        f"SELECT event_id, epoch_us(ts), user_id, event_type, value"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()


def test_retry_backoff_conformance_witness(spark, duck):
    per_user = collections.defaultdict(list)
    for _eid, us, uid, etype, _v in _events(duck):
        if etype == "error":
            per_user[uid].append(us)
    exp = {}
    for uid, uss in per_user.items():
        uss.sort()
        chains = []
        cur = [uss[0]]
        for prev, nxt in zip(uss, uss[1:]):
            if nxt - prev >= 7_200_000_000:
                chains.append(cur)
                cur = [nxt]
            else:
                cur.append(nxt)
        chains.append(cur)
        n_conf = 0
        for ch in chains:
            gaps = [b - a for a, b in zip(ch, ch[1:])]
            ok = all(g2 >= 2 * g1 for g1, g2 in zip(gaps, gaps[1:]))
            if ok:
                n_conf += 1
        exp[uid] = (len(chains), n_conf, max(len(c) for c in chains))
    got = {
        r.user_id: (r.n_chains, r.n_conformant, r.longest_chain)
        for r in STAGED_QUERIES["q_retry_backoff_conformance"](
            spark, SF_DIR
        ).collect()
    }
    assert got == exp


def test_krippendorff_alpha_witness(spark, duck):
    ratings = collections.Counter()
    for _eid, _us, uid, _etype, v in _events(duck):
        ratings[(uid % 50, min(int(v // 50), 6))] += 1
    m_u = collections.Counter()
    for (u, _c), n in ratings.items():
        m_u[u] += n
    kept = {u for u, m in m_u.items() if m >= 2}
    do12 = 0
    big_n = 0
    margins = collections.Counter()
    for (u, c), n in ratings.items():
        if u not in kept:
            continue
        do12 += 12 * n * (m_u[u] - n) // (m_u[u] - 1)
        big_n += n
        margins[c] += n
    de = sum(n_c * (big_n - n_c) for n_c in margins.values())
    r = STAGED_QUERIES["q_krippendorff_alpha"](spark, SF_DIR).collect()[0]
    assert (r.do12, r.big_n, r.de) == (do12, big_n, de)
    alpha = 1.0 - (do12 * (big_n - 1)) / (12.0 * de)
    assert abs(r.alpha - alpha) < 1e-12
    assert -1.0 <= alpha <= 1.0


def test_join_order_plan_witness(spark, duck):
    n_c, ndv_cc = duck.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT c_custkey)"
        f" FROM '{SF_DIR}/customer.parquet'"
    ).fetchone()
    n_o, ndv_oc, ndv_oo = duck.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT o_custkey),"
        f" COUNT(DISTINCT o_orderkey) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()
    n_l, ndv_lo = duck.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT l_orderkey)"
        f" FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchone()
    co = n_c * n_o // max(ndv_cc, ndv_oc)
    ol = n_o * n_l // max(ndv_oo, ndv_lo)
    exp = {
        "co_then_l": co + co * n_l // max(ndv_oo, ndv_lo),
        "ol_then_c": ol + ol * n_c // max(ndv_cc, ndv_oc),
        "cl_cross_then_o": n_c * n_l
        + n_c * n_l * n_o // max(ndv_cc, ndv_oc) // max(ndv_oo, ndv_lo),
    }
    best = min(exp, key=exp.get)
    got = {
        r.plan_name: (r.est_cost, r.is_best)
        for r in STAGED_QUERIES["q_join_order_plan"](spark, SF_DIR).collect()
    }
    assert got == {k: (v, 1 if k == best else 0) for k, v in exp.items()}
    # the cross-product plan must never win
    assert best != "cl_cross_then_o"


def test_newsvendor_witness(spark, duck):
    rows = duck.sql(
        f"SELECT p.p_brand, CAST(floor(l.l_quantity) AS BIGINT)"
        f" FROM '{SF_DIR}/lineitem.parquet' l"
        f" JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey"
    ).fetchall()
    per = collections.defaultdict(list)
    for b, d in rows:
        per[b].append(d)
    got = {
        r.brand: (r.n, r.q_star, r.overage_cost, r.underage_cost)
        for r in STAGED_QUERIES["q_newsvendor"](spark, SF_DIR).collect()
    }
    for b, ds in per.items():
        ds.sort()
        n = len(ds)
        qs = next(d for i, d in enumerate(ds) if (i + 1) * 4 >= n * 3)
        over = sum(qs - d for d in ds if d < qs)
        under = 3 * sum(d - qs for d in ds if d > qs)
        assert got[b] == (n, qs, over, under), b
        # q* minimizes empirical newsvendor cost among observed levels
        def cost(q):
            return sum(max(q - d, 0) + 3 * max(d - q, 0) for d in ds)

        assert all(cost(qs) <= cost(q) for q in set(ds))


def test_pinball_eval_witness(spark, duck):
    per = collections.defaultdict(list)
    for eid, us, uid, _etype, v in _events(duck):
        per[uid].append((us, eid, int(round(v * 100))))
    got = {
        r.user_id: (r.n_scored, r.loss10_naive1, r.loss10_naive7, r.winner)
        for r in STAGED_QUERIES["q_pinball_eval"](spark, SF_DIR).collect()
    }
    for uid, seq in per.items():
        seq.sort()
        ys = [y for _u, _e, y in seq]
        n = l1 = l7 = 0
        for i in range(7, len(ys)):
            d1 = ys[i] - ys[i - 1]
            d7 = ys[i] - ys[i - 7]
            l1 += max(9 * d1, -d1)
            l7 += max(9 * d7, -d7)
            n += 1
        if n == 0:
            assert uid not in got
            continue
        w = "naive1" if l1 <= l7 else "naive7"
        assert got[uid] == (n, l1, l7, w), uid


def test_rrf_fusion_witness(spark, duck):
    docs = duck.sql(
        f"SELECT doc_id, source, n_chars, text"
        f" FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for d, s, nc, t in docs:
        hits = sum(1 for tok in t.lower().split(" ") if tok == "data")
        per[s].append((d, nc, hits))
    got = collections.defaultdict(dict)
    for r in STAGED_QUERIES["q_rrf_fusion"](spark, SF_DIR).collect():
        got[r.source][r.fused_rank] = (r.doc_id, r.rrf_e12)
    for s, rows in per.items():
        r1 = {
            d: i + 1
            for i, (d, _nc, _h) in enumerate(
                sorted(rows, key=lambda x: (-x[2], x[0]))
            )
        }
        r2 = {
            d: i + 1
            for i, (d, _nc, _h) in enumerate(
                sorted(rows, key=lambda x: (x[1], x[0]))
            )
        }
        fused = sorted(
            (
                (10**12 // (60 + r1[d]) + 10**12 // (60 + r2[d]), d)
                for d, _nc, _h in rows
            ),
            key=lambda x: (-x[0], x[1]),
        )
        for rk in (1, 2, 3):
            sc, d = fused[rk - 1]
            assert got[s][rk] == (d, sc), (s, rk)


def test_spc_control_chart_witness(spark, duck):
    per = collections.defaultdict(list)
    for eid, _us, _uid, etype, v in _events(duck):
        per[etype].append((eid, int(round(v * 100))))
    got = {
        r.event_type: (r.n_subgroups, r.n_rule1, r.n_beyond_2sigma)
        for r in STAGED_QUERIES["q_spc_control_chart"](
            spark, SF_DIR
        ).collect()
    }
    for etype, rows in per.items():
        rows.sort()
        xs = [x for _e, x in rows]
        groups = [
            xs[i : i + 5] for i in range(0, len(xs) - len(xs) % 5, 5)
        ]
        phase1 = groups[:20]
        m = len(phase1)
        ts = sum(sum(g) for g in phase1)
        tr = sum(max(g) - min(g) for g in phase1)
        r1 = sum(
            1 for g in groups if abs(sum(g) * m - ts) * 200 > 577 * tr
        )
        w2 = sum(
            1 for g in groups if abs(sum(g) * m - ts) * 600 > 2 * 577 * tr
        )
        assert got[etype] == (len(groups), r1, w2), etype


def test_kendall_w_witness(spark, duck):
    scores = collections.Counter()
    for eid, _us, uid, _etype, v in _events(duck):
        scores[(eid % 3, uid % 10)] += int(round(v * 100))
    rsum = collections.Counter()
    for rater in range(3):
        items = sorted(
            ((scores[(rater, i)], i) for i in range(10)),
            key=lambda x: (-x[0], x[1]),
        )
        for rk, (_s, i) in enumerate(items, 1):
            rsum[i] += rk
    s2 = sum(r * r for r in rsum.values())
    n, m = 10, 3
    w = (12.0 * s2 - 3.0 * m * m * n * (n + 1) ** 2) / (
        m * m * n * (n * n - 1)
    )
    r = STAGED_QUERIES["q_kendall_w"](spark, SF_DIR).collect()[0]
    assert (r.n, r.m, r.s2) == (n, m, s2)
    assert abs(r.kendall_w - w) < 1e-12
    assert 0.0 <= w <= 1.0


def test_harmonic_centrality_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    edges = set()
    for uid, eid in rows:
        a, b = uid % 41, (2 * uid + eid) % 41
        if a != b:
            edges.add((min(a, b), max(a, b)))
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    got = {
        r.seed: (r.n_reached_3, r.harmonic_e6)
        for r in STAGED_QUERIES["q_harmonic_centrality"](
            spark, SF_DIR
        ).collect()
    }
    for seed in range(4):
        if seed not in adj:
            assert seed not in got
            continue
        dist = {seed: 0}
        frontier = {seed}
        for d in (1, 2, 3):
            nxt = set()
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = d
                        nxt.add(v)
            frontier = nxt
        reached = {v: d for v, d in dist.items() if v != seed}
        h = sum(1_000_000 // d for d in reached.values())
        assert got[seed] == (len(reached), h), seed


# ------------------------------------------------------ plan pins


@pytest.mark.parametrize("name", sorted(STAGED_QUERIES))
def test_staged_r11_no_cartesian_no_python(spark, name):
    plan = executed_plan(STAGED_QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, (name, plan)
    assert "BatchEvalPython" not in plan, (name, plan)
    assert "ArrowEvalPython" not in plan, (name, plan)


def test_pinball_single_window_partitioning(spark):
    # both lags must share one exchange on user_id
    plan = executed_plan(STAGED_QUERIES["q_pinball_eval"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan


def test_harmonic_no_cartesian_frontier(spark):
    plan = executed_plan(STAGED_QUERIES["q_harmonic_centrality"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------- staging batch 2


def test_markov_power_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_type, epoch_us(ts), event_id"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for uid, et, us, eid in rows:
        per[uid].append((us, eid, et))
    m1 = collections.Counter()
    for uid, seq in per.items():
        seq.sort()
        for (_u1, _e1, a), (_u2, _e2, b) in zip(seq, seq[1:]):
            m1[(a, b)] += 1
    states = sorted({a for a, _b in m1} | {b for _a, b in m1})
    m2 = collections.Counter()
    for (a, x), c1 in m1.items():
        for (x2, b), c2 in m1.items():
            if x == x2:
                m2[(a, b)] += c1 * c2
    m4 = collections.Counter()
    for (a, x), c1 in m2.items():
        for (x2, b), c2 in m2.items():
            if x == x2:
                m4[(a, b)] += (c1 // 1000) * (c2 // 1000)
    rowsum = collections.Counter()
    for (a, _b), c in m4.items():
        rowsum[a] += c
    got = {
        (r.from_state, r.to_state): r.w4
        for r in STAGED_QUERIES["q_markov_power"](spark, SF_DIR).collect()
    }
    assert got == dict(m4)
    # row normalization sanity: every from-state's p4 sums to ~1
    got_p = collections.defaultdict(float)
    for r in STAGED_QUERIES["q_markov_power"](spark, SF_DIR).collect():
        got_p[r.from_state] += r.p4
    assert all(abs(v - 1.0) < 1e-9 for v in got_p.values())


def test_local_matching_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    w = {}
    for uid, eid in rows:
        a, b = uid % 41, (2 * uid + eid) % 41
        if a != b:
            k = (min(a, b), max(a, b))
            w[k] = min(w.get(k, 1 << 62), eid)
    edges = {(a, b, c) for (a, b), c in w.items()}

    def dominant(es):
        best = {}
        for a, b, c in es:
            for node in (a, b):
                cur = best.get(node)
                if cur is None or (c, a, b) < cur:
                    best[node] = (c, a, b)
        return {
            (a, b, c)
            for a, b, c in es
            if best[a] == (c, a, b) and best[b] == (c, a, b)
        }

    exp = {}
    rem = set(edges)
    for rnd in (1, 2, 3):
        dom = dominant(rem)
        if dom:
            exp[rnd] = (len(dom), sum(c for _a, _b, c in dom))
        used = {a for a, _b, _c in dom} | {b for _a, b, _c in dom}
        rem = {
            (a, b, c)
            for a, b, c in rem
            if a not in used and b not in used
        }
    got = {
        r.round: (r.n_matched, r.weight_sum)
        for r in STAGED_QUERIES["q_local_matching"](spark, SF_DIR).collect()
    }
    assert got == exp

    # identity: locally-dominant rounds == sequential greedy matching
    # by the same (w, a, b) priority
    greedy = set()
    used = set()
    for a, b, c in sorted(edges, key=lambda e: (e[2], e[0], e[1])):
        if a not in used and b not in used:
            greedy.add((a, b, c))
            used.update((a, b))
    rounds_all = set()
    rem = set(edges)
    for rnd in (1, 2, 3):
        dom = dominant(rem)
        rounds_all |= dom
        usd = {a for a, _b, _c in dom} | {b for _a, b, _c in dom}
        rem = {
            (a, b, c) for a, b, c in rem if a not in usd and b not in usd
        }
    # after enough rounds the sets agree; with 3 rounds the matched
    # subset must at least be a subset of the greedy matching
    assert rounds_all <= greedy
    # and 3 rounds matched everything greedy did on this graph
    assert rounds_all == greedy


def test_business_days_witness(spark, duck):
    rows = duck.sql(
        f"SELECT o.o_orderpriority,"
        f" epoch_us(o.o_orderdate) // 86400000000,"
        f" epoch_us(l.l_shipdate) // 86400000000"
        f" FROM '{SF_DIR}/lineitem.parquet' l"
        f" JOIN '{SF_DIR}/orders.parquet' o ON o.o_orderkey = l.l_orderkey"
        f" WHERE l.l_shipdate >= o.o_orderdate"
    ).fetchall()

    def brute(d1, d2):
        # weekdays in [d1, d2) by day iteration; epoch day 0 = Thursday
        n = 0
        for d in range(d1, d2):
            if (d % 7 + 11) % 7 <= 4:
                n += 1
        return n

    per = collections.defaultdict(list)
    for p, d1, d2 in rows:
        per[p].append(brute(int(d1), int(d2)))
    got = {
        r.priority: (r.n_lines, r.bdays_sum, r.bdays_min, r.bdays_max)
        for r in STAGED_QUERIES["q_business_days"](spark, SF_DIR).collect()
    }
    exp = {
        p: (len(v), sum(v), min(v), max(v)) for p, v in per.items()
    }
    assert got == exp


def test_hill_tail_index_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, CAST(round(value * 100) AS BIGINT)"
        f" FROM '{SF_DIR}/events.parquet' WHERE value > 0"
    ).fetchall()
    per = collections.defaultdict(list)
    for et, x in rows:
        per[et].append(x)
    got = {
        r.event_type: (r.k_used, r.hill_sum_nano)
        for r in STAGED_QUERIES["q_hill_tail_index"](spark, SF_DIR).collect()
    }
    for et, xs in per.items():
        xs.sort(reverse=True)
        if len(xs) < 51:
            assert et not in got
            continue
        xk = xs[50]
        nano = sum(
            int(math.floor(math.log(x / xk) * 1e9 + 0.5)) for x in xs[:50]
        )
        assert got[et] == (50, nano), et
        assert nano >= 0  # top-k values dominate x_k


# ---------------------------------------------- staging batch 3


def test_fiscal_445_witness(spark, duck):
    rows = duck.sql(
        f"SELECT epoch_us(ts) // 86400000000 - 19723,"
        f" CAST(round(value * 100) AS BIGINT)"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, set(), 0])
    for fd, cents in rows:
        wk = fd // 7
        fq = wk // 13
        pos = wk % 13
        p = 1 if pos < 4 else (2 if pos < 8 else 3)
        rec = agg[(fq, p)]
        rec[0] += 1
        rec[1].add(wk)
        rec[2] += cents
    got = {
        (r.fiscal_quarter, r.period_in_quarter): (
            r.n_events,
            r.n_weeks,
            r.cents_sum,
        )
        for r in STAGED_QUERIES["q_fiscal_445"](spark, SF_DIR).collect()
    }
    exp = {k: (n, len(wks), c) for k, (n, wks, c) in agg.items()}
    assert got == exp
    # the 4-4-5 defining property: full periods hold 4 or 5 weeks
    # (edge periods truncated by the data range may hold fewer)
    full = [v[1] for k, v in exp.items()]
    assert all(1 <= w <= 5 for w in full)


def test_dup_invoice_witness(spark, duck):
    rows = duck.sql(
        f"SELECT o_orderkey, o_custkey,"
        f" CAST(round(o_totalprice * 100) AS BIGINT),"
        f" epoch_us(o_orderdate) // 86400000000"
        f" FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    feed = list(rows) + [
        (ok_ + 1_000_000_000, ck, cents, d + 3)
        for ok_, ck, cents, d in rows
        if ok_ % 40 == 0
    ]
    by_block = collections.defaultdict(list)
    for ok_, ck, cents, d in feed:
        by_block[(ck, cents)].append((ok_, d))
    exp = collections.defaultdict(lambda: [0, 1 << 62, 0])
    n_pairs_total = 0
    for (ck, cents), mem in by_block.items():
        mem.sort()
        for i, (oa, da) in enumerate(mem):
            for ob, db in mem[i + 1 :]:
                gap = abs(da - db)
                if gap <= 7:
                    rec = exp[ck]
                    rec[0] += 1
                    rec[1] = min(rec[1], gap)
                    rec[2] += cents
                    n_pairs_total += 1
    got = {
        r.custkey: (r.n_suspect_pairs, r.min_day_gap, r.exposure_cents)
        for r in STAGED_QUERIES["q_dup_invoice"](spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in exp.items()}
    # the detector recovers EXACTLY the plant: the fixture's organic
    # prices never collide (checked at all three SFs), so every
    # suspect pair is one planted re-post and min gap is the plant's 3
    n_planted = sum(1 for ok_, *_rest in rows if ok_ % 40 == 0)
    assert n_pairs_total == n_planted
    assert all(v[1] == 3 for v in exp.values())


def test_wilcoxon_signed_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, user_id, epoch_us(ts), event_id,"
        f" CAST(round(value * 100) AS BIGINT)"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for et, uid, us, eid, y in rows:
        per[(et, uid)].append((us, eid, y))
    ds = collections.defaultdict(list)
    for (et, uid), seq in per.items():
        if len(seq) < 2:
            continue
        seq.sort()
        d = seq[-1][2] - seq[0][2]
        if d != 0:
            ds[et].append(d)
    got = {
        r.event_type: (r.n_pairs, r.w_plus_x2, r.w_total_x2)
        for r in STAGED_QUERIES["q_wilcoxon_signed"](spark, SF_DIR).collect()
    }
    for et, dd in ds.items():
        ads = sorted(abs(d) for d in dd)
        import bisect

        wp2 = 0
        wt2 = 0
        for d in dd:
            lt = bisect.bisect_left(ads, abs(d))
            le = bisect.bisect_right(ads, abs(d))
            mid2 = lt + le + 1
            wt2 += mid2
            if d > 0:
                wp2 += mid2
        n = len(dd)
        assert got[et] == (n, wp2, wt2), et
        # checksum: doubled midranks over all elements sum to n(n+1)
        assert wt2 == n * (n + 1)


def test_tiered_billing_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, CAST(round(value * 100) AS BIGINT)"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    usage = collections.Counter()
    for uid, cents in rows:
        usage[uid] += cents
    tiers = [(1, 0, 500000, 10), (2, 500000, 2000000, 7), (3, 2000000, (1 << 63) - 1, 4)]

    def bill(units):
        total = 0
        top = None
        for tier, lo, hi, rate in tiers:
            tu = max(min(units, hi) - lo, 0)
            total += tu * rate
            if tu > 0:
                top = tier
        return total, top

    got = {
        r.user_id: (r.units, r.top_tier, r.bill_milli)
        for r in STAGED_QUERIES["q_tiered_billing"](spark, SF_DIR).collect()
    }
    exp = {}
    for uid, u in usage.items():
        b, t = bill(u)
        exp[uid] = (u, t, b)
    assert got == exp
    # marginal-form properties: monotone and continuous at boundaries
    for probe in (499999, 500000, 500001, 1999999, 2000000, 2000001):
        lo_b, _ = bill(probe - 1)
        hi_b, _ = bill(probe)
        assert 0 <= hi_b - lo_b <= 10  # one unit adds at most top rate


def test_lsh_tuning_curve_witness(spark, duck):
    docs = duck.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()

    def shingles(text):
        tk = [t for t in text.lower().split(" ") if t]
        return (
            {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
            if len(tk) >= 3
            else set()
        )

    sh = {d: s for d, s in ((d, shingles(t)) for d, t in docs) if s}
    ids = sorted(sh)
    sims = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            o = len(sh[a] & sh[b])
            if o and 5 * o >= len(sh[a]) + len(sh[b]):
                sims.append(o / (len(sh[a]) + len(sh[b]) - o))
    got = {
        (r.r, r.b): (r.n_pairs, r.recall_sum_nano)
        for r in STAGED_QUERIES["q_lsh_tuning_curve"](
            spark, SF_DIR
        ).collect()
    }
    recalls = {}
    for rr, bb in ((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)):
        nano = sum(
            int(math.floor((1.0 - (1.0 - s**rr) ** bb) * 1e9 + 0.5))
            for s in sims
        )
        assert got[(rr, bb)] == (len(sims), nano), (rr, bb)
        recalls[(rr, bb)] = nano
    # the S-curve property: more bands (fewer rows/band) => higher
    # recall on the same pair set
    assert recalls[(1, 16)] >= recalls[(4, 4)] >= recalls[(16, 1)]


def test_churn_labels_witness(spark, duck):
    import datetime

    rows = duck.sql(
        f"SELECT user_id, epoch_us(ts),"
        f" CAST(round(value * 100) AS BIGINT)"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    t_cut = int(
        datetime.datetime(
            2024, 1, 21, tzinfo=datetime.timezone.utc
        ).timestamp()
        * 1e6
    )
    t_end = int(
        datetime.datetime(
            2024, 1, 31, tzinfo=datetime.timezone.utc
        ).timestamp()
        * 1e6
    )
    feats = collections.defaultdict(lambda: [0, 0, 0])
    active_after = set()
    for uid, us, cents in rows:
        if us < t_cut:
            rec = feats[uid]
            rec[0] += 1
            rec[1] += cents
            rec[2] = max(rec[2], us)
        elif us < t_end:
            active_after.add(uid)
    got = {
        r.user_id: (r.n_before, r.cents_before, r.recency_us, r.churned)
        for r in STAGED_QUERIES["q_churn_labels"](spark, SF_DIR).collect()
    }
    exp = {
        uid: (n, c, t_cut - last, 0 if uid in active_after else 1)
        for uid, (n, c, last) in feats.items()
    }
    assert got == exp
    # leakage guard: every feature strictly precedes the cutoff
    assert all(rec[2] > 0 for rec in got.values())
