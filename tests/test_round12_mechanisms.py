"""Pure-Python witnesses for the round-12 catalog batches at sf0.001 —
independent recomputation, the third leg next to the Spark build and
the DuckDB oracle — plus plan pins for the scale-critical shapes."""

from __future__ import annotations

import collections
import hashlib
import math
from fractions import Fraction

import pytest

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan


def _events(duck):
    return duck.sql(
        f"SELECT event_id, epoch_us(ts), user_id, event_type, value,"
        f" CAST(ts AS DATE)"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()


def _docs(duck):
    return duck.sql(
        f"SELECT doc_id, lang, source, n_chars"
        f" FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()


# ---------------------------------------------------------- batch 1


def _truss_edges(duck):
    return set(
        map(
            tuple,
            duck.sql(
                f"""
        SELECT DISTINCT
               least((3*user_id + 7*event_id) % 149,
                     (5*user_id + event_id*event_id) % 149) AS lo,
               greatest((3*user_id + 7*event_id) % 149,
                        (5*user_id + event_id*event_id) % 149) AS hi
        FROM '{SF_DIR}/events.parquet'
        WHERE (3*user_id + 7*event_id) % 149
              != (5*user_id + event_id*event_id) % 149
        """
            ).fetchall(),
        )
    )


def _support(edges):
    adj = collections.defaultdict(set)
    for lo, hi in edges:
        adj[lo].add(hi)
        adj[hi].add(lo)
    return {e: len(adj[e[0]] & adj[e[1]]) for e in edges}


def test_ktruss_witness(spark, duck):
    edges = _truss_edges(duck)
    for _ in range(5):
        sup = _support(edges)
        edges = {e for e in edges if sup[e] >= 2}
    exp = {e: s for e, s in _support(edges).items()}
    got = {
        (r.lo, r.hi): r.support
        for r in QUERIES["q_ktruss"](spark, SF_DIR).collect()
    }
    assert got == exp
    assert len(got) > 0  # peeling must not empty the fixture graph


def test_ktruss_actually_peels(duck):
    # the fixture graph must exercise the peeling loop (not converge
    # trivially at round 0) — the reason the projection is mod-149,
    # not the dense mod-41 of q_kcore.
    edges = _truss_edges(duck)
    sup = _support(edges)
    survivors = {e for e in edges if sup[e] >= 2}
    assert len(survivors) < len(edges)


def test_segment_overlap_bucketed_witness(spark, duck):
    segs = collections.defaultdict(set)
    for _eid, _us, uid, etype, val, _d in _events(duck):
        segs[f"{etype}:{int(math.floor(val)) % 4}"].add(uid)
    rows = QUERIES["q_segment_overlap_bucketed"](spark, SF_DIR).collect()
    assert rows
    seen = set()
    for r in rows:
        a, b = segs[r.t1], segs[r.t2]
        assert r.t1 < r.t2
        assert r.n_inter == len(a & b) and r.n_inter > 0
        assert r.n1 == len(a) and r.n2 == len(b)
        assert r.jaccard == pytest.approx(
            len(a & b) / len(a | b), abs=1e-12
        )
        seen.add((r.t1, r.t2))
    # every overlapping pair is present
    keys = sorted(segs)
    for i, t1 in enumerate(keys):
        for t2 in keys[i + 1 :]:
            if segs[t1] & segs[t2]:
                assert (t1, t2) in seen


def test_stream_funnel_witness(spark, duck):
    per_user = collections.defaultdict(list)
    for _eid, us, uid, etype, _v, _d in _events(duck):
        per_user[uid].append((us, etype))
    exp = {}
    for uid, evs in per_user.items():
        evs.sort()
        v = min((us for us, t in evs if t == "view"), default=None)
        if v is None:
            continue
        c = min(
            (us for us, t in evs if t == "click" and us > v), default=None
        )
        if c is None:
            continue
        p = min(
            (us for us, t in evs if t == "purchase" and us > c),
            default=None,
        )
        if p is None or p - v > 172_800_000_000:
            continue
        exp[uid] = (v, c, p)
    got = {
        r.user_id: (r.v_us, r.c_us, r.p_us)
        for r in QUERIES["q_stream_funnel"](spark, SF_DIR).collect()
    }
    assert got == exp and got


def test_stream_funnel_cross_batch(spark, tmp_path):
    """Funnel chains must complete ACROSS batch boundaries (view in
    batch 1, purchase only in batch 2): feed the same events as an
    event-time-ordered two-file stream and require the same
    completions as the single-batch run."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from aws_vpcflowlogs_parquet_spark.sources.tables import stream_events
    from aws_vpcflowlogs_parquet_spark.streaming.windows import stream_funnel

    src = tmp_path / "funnel_src"
    src.mkdir()
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    ts = tbl.column("ts")
    cut = pc.quantile(ts.cast("int64"), q=0.5).to_pylist()[0]
    mask = pc.less(ts.cast("int64"), int(cut))
    pq.write_table(tbl.filter(mask), src / "events.parquet")
    stream = stream_events(spark, str(src))
    out = stream_funnel(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("r12_funnel_x")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT COUNT(*) AS n FROM r12_funnel_x").collect()[
            0
        ]["n"]
        pq.write_table(tbl.filter(pc.invert(mask)), src / "events2.parquet")
        q.processAllAvailable()
        got = {
            r.user_id: (r.v_us, r.c_us, r.p_us)
            for r in spark.sql("SELECT * FROM r12_funnel_x").collect()
        }
    finally:
        q.stop()
    single = {
        r.user_id: (r.v_us, r.c_us, r.p_us)
        for r in QUERIES["q_stream_funnel"](spark, SF_DIR).collect()
    }
    assert got == single
    # each completion emitted exactly once across both batches
    assert len(got) == spark.sql(
        "SELECT COUNT(*) AS n FROM r12_funnel_x"
    ).collect()[0]["n"]
    assert n1 <= len(got)


# ---------------------------------------------------------- batch 2


def test_mann_kendall_witness(spark, duck):
    daily = collections.defaultdict(dict)
    for _eid, _us, _uid, etype, val, d in _events(duck):
        daily[etype][d] = daily[etype].get(d, 0) + round(val * 100)
    for r in QUERIES["q_mann_kendall"](spark, SF_DIR).collect():
        xs = [x for _, x in sorted(daily[r.event_type].items())]
        n = len(xs)
        s = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        cnt = collections.Counter(xs)
        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in cnt.values() if t > 1
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie
        assert (r.n, r.s_stat, r.var_x18) == (n, s, var18)
        zexp = (
            (s - 1 if s > 0 else s + 1 if s < 0 else 0)
            / math.sqrt(var18 / 18.0)
            if var18
            else 0.0
        )
        assert r.zstat == pytest.approx(zexp, rel=1e-12)


def test_adamic_adar_witness(spark, duck):
    edges = set(
        map(
            tuple,
            duck.sql(
                f"""
        SELECT DISTINCT least(user_id % 41, (2*user_id + event_id) % 41),
               greatest(user_id % 41, (2*user_id + event_id) % 41)
        FROM '{SF_DIR}/events.parquet'
        WHERE user_id % 41 != (2*user_id + event_id) % 41"""
            ).fetchall(),
        )
    )
    adj = collections.defaultdict(set)
    for lo, hi in edges:
        adj[lo].add(hi)
        adj[hi].add(lo)
    scores = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in edges:
                continue
            common = adj[u] & adj[v]
            if not common:
                continue
            nano = sum(
                int(math.floor(1e9 / math.log(len(adj[w])) + 0.5))
                for w in common
            )
            scores[(u, v)] = (len(common), nano)
    top = sorted(
        scores.items(), key=lambda kv: (-kv[1][1], kv[0])
    )[:20]
    exp = [(u, v, c, nano) for (u, v), (c, nano) in top]
    got = [
        (r.u, r.v, r.n_common, r.aa_nano)
        for r in QUERIES["q_adamic_adar"](spark, SF_DIR).collect()
    ]
    assert got == exp


def _bloom_pos(k: int, i: int, m: int) -> int:
    h = hashlib.md5(f"{k}:{i}".encode()).hexdigest()
    return int(h[:8], 16) % m


def test_bloom_fpr_audit_witness(spark, duck):
    members = {
        r[0]
        for r in duck.sql(
            f"SELECT o_custkey FROM '{SF_DIR}/orders.parquet'"
            f" GROUP BY o_custkey HAVING COUNT(*) >= 10"
        ).fetchall()
    }
    custs = {
        r[0]
        for r in duck.sql(
            f"SELECT c_custkey FROM '{SF_DIR}/customer.parquet'"
        ).fetchall()
    }
    probes = custs - members
    exp = {}
    for m, h in [(64, 2), (256, 3), (1024, 4)]:
        bits = {
            _bloom_pos(k, i, m) for k in members for i in range(1, h + 1)
        }
        n_fp = sum(
            all(_bloom_pos(k, i, m) in bits for i in range(1, h + 1))
            for k in probes
        )
        exp[(m, h)] = (len(members), len(probes), n_fp, len(bits))
    got = {
        (r.m, r.h): (r.n_members, r.n_probes, r.n_fp, r.n_bits_set)
        for r in QUERIES["q_bloom_fpr_audit"](spark, SF_DIR).collect()
    }
    assert got == exp
    # the sizing sweep must show the FPR falling as m grows
    rows = sorted(exp.items())
    fprs = [fp / np for (_m, _h), (_nm, np, fp, _b) in rows]
    assert fprs[0] >= fprs[-1]


def test_grubbs_witness(spark, duck):
    groups = collections.defaultdict(list)
    for eid, _us, _uid, etype, val, _d in _events(duck):
        groups[etype].append((round(val * 100), eid))
    for r in QUERIES["q_grubbs_test"](spark, SF_DIR).collect():
        xs = groups[r.event_type]
        n = len(xs)
        s = sum(x for x, _ in xs)
        q = sum(x * x for x, _ in xs)
        best = min(xs, key=lambda t: (-abs(n * t[0] - s), t[0], t[1]))
        dev = abs(n * best[0] - s)
        assert (r.n, r.event_id, r.x_cents, r.dev_num) == (
            n,
            best[1],
            best[0],
            dev,
        )
        gexp = (dev / n) / math.sqrt((q - s * s / n) / (n - 1))
        assert r.g == pytest.approx(gexp, rel=1e-12)


def test_friedman_witness(spark, duck):
    cell = collections.defaultdict(dict)
    for _eid, _us, _uid, etype, val, d in _events(duck):
        cell[d][etype] = cell[d].get(etype, 0) + round(val * 100)
    blocks = [v for v in cell.values() if len(v) == 5]
    r2_sum = collections.Counter()
    for blk in blocks:
        vals = list(blk.values())
        for t, x in blk.items():
            lt = sum(y < x for y in vals)
            eq = sum(y == x for y in vals)
            r2_sum[t] += 2 * lt + eq + 1
    nblocks = len(blocks)
    ssq = sum(v * v for v in r2_sum.values())
    chi2 = 3.0 * ssq / (nblocks * 5.0 * 6.0) - 3.0 * nblocks * 6.0
    rows = QUERIES["q_friedman_test"](spark, SF_DIR).collect()
    assert {r.event_type: r.r2_sum for r in rows} == dict(r2_sum)
    for r in rows:
        assert r.n_blocks == nblocks
        assert r.chi2_f == pytest.approx(chi2, rel=1e-12)
    # rank-sum checksum: sum over treatments = n * k(k+1)
    assert sum(r2_sum.values()) == nblocks * 5 * 6


def test_cochran_q_witness(spark, duck):
    cnt = collections.Counter()
    for _eid, _us, uid, etype, _v, _d in _events(duck):
        if etype in ("view", "click", "purchase"):
            cnt[(uid, etype)] += 1
    users = {u for u, _ in cnt}
    x = {
        (u, t): 1 if cnt.get((u, t), 0) >= 13 else 0
        for u in users
        for t in ("view", "click", "purchase")
    }
    ri = {u: sum(x[(u, t)] for t in ("view", "click", "purchase")) for u in users}
    cj = {
        t: sum(x[(u, t)] for u in users)
        for t in ("view", "click", "purchase")
    }
    n_total = sum(ri.values())
    q_num = 2 * (3 * sum(c * c for c in cj.values()) - n_total * n_total)
    q_den = 3 * n_total - sum(r * r for r in ri.values())
    (row,) = QUERIES["q_cochran_q"](spark, SF_DIR).collect()
    assert (row.k, row.n_blocks, row.n_total) == (3, len(users), n_total)
    assert (row.q_num, row.q_den) == (q_num, q_den)
    assert q_den > 0  # non-degenerate design, probed at every sf
    assert row.q == pytest.approx(q_num / q_den, rel=1e-12)


_W10 = [
    1000000000000, 630929753571, 500000000000, 430676558073,
    386852807235, 356207187108, 333333333333, 315464876786,
    301029995664, 289064826318,
]


def test_ndcg_weights_are_the_log2_lattice():
    for i, w in enumerate(_W10, start=1):
        assert w == round(1e12 / math.log2(i + 1))


def test_ndcg_eval_witness(spark, duck):
    per_src = collections.defaultdict(list)
    for doc_id, lang, source, n_chars in _docs(duck):
        rel = 2 if lang == "en" else 1 if lang == "fr" else 0
        per_src[source].append((n_chars, doc_id, rel))
    for r in QUERIES["q_ndcg_eval"](spark, SF_DIR).collect():
        docs = sorted(per_src[r.source], key=lambda t: (-t[0], t[1]))
        dcg = sum(rel * w for (_c, _d, rel), w in zip(docs[:10], _W10))
        ideal = sorted((rel for _c, _d, rel in docs), reverse=True)
        idcg = sum(rel * w for rel, w in zip(ideal[:10], _W10))
        nrel = sum(1 for _c, _d, rel in docs if rel > 0)
        assert (r.n_rel, r.dcg_num, r.idcg_num) == (nrel, dcg, idcg)
        assert idcg > 0
        assert r.ndcg == pytest.approx(dcg / idcg, rel=1e-12)


def test_map_eval_witness(spark, duck):
    L = 26771144400
    per_src = collections.defaultdict(list)
    for doc_id, lang, source, n_chars in _docs(duck):
        per_src[source].append((n_chars, doc_id, 1 if lang == "en" else 0))
    seen = set()
    for r in QUERIES["q_map_eval"](spark, SF_DIR).collect():
        seen.add(r.source)
        docs = sorted(per_src[r.source], key=lambda t: (-t[0], t[1]))[:25]
        hits, ap_num = 0, 0
        for k, (_c, _d, rel) in enumerate(docs, start=1):
            hits += rel
            if rel:
                assert (L * hits) % k == 0  # exact-lattice invariant
                ap_num += L * hits // k
        nrel = sum(rel for _c, _d, rel in docs)
        assert nrel > 0
        assert (r.n_rel, r.ap_num) == (nrel, ap_num)
        exp_ap = Fraction(ap_num, L * nrel)
        assert r.ap == pytest.approx(float(exp_ap), rel=1e-12)
    # every source with a relevant doc in its top-25 is present
    for source, docs in per_src.items():
        top = sorted(docs, key=lambda t: (-t[0], t[1]))[:25]
        if any(rel for _c, _d, rel in top):
            assert source in seen


# ------------------------------------------------------------ plan pins


def test_no_python_row_udfs_in_round12_batch(spark):
    for name in (
        "q_ktruss",
        "q_segment_overlap_bucketed",
        "q_mann_kendall",
        "q_adamic_adar",
        "q_bloom_fpr_audit",
        "q_grubbs_test",
        "q_friedman_test",
        "q_cochran_q",
        "q_ndcg_eval",
        "q_map_eval",
    ):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = executed_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bloom_audit_broadcasts_the_filter(spark):
    df = QUERIES["q_bloom_fpr_audit"](spark, SF_DIR)
    df.collect()
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan


def test_map_eval_single_window_partitioning(spark):
    # rank window and running sum share the (source) partitioning —
    # exactly one hash-partitioning exchange on source feeds both
    # (count within the AQE final plan only; the toString repeats the
    # tree in the initial-plan section).
    df = QUERIES["q_map_eval"](spark, SF_DIR)
    df.collect()
    plan = executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("hashpartitioning(source") == 1, final


# ---------------------------------------------------------- batch 3


def test_path_counts_witness(spark, duck):
    edges = set(
        map(
            tuple,
            duck.sql(
                f"""
        SELECT DISTINCT least(user_id % 41, (2*user_id + event_id) % 41),
               greatest(user_id % 41, (2*user_id + event_id) % 41)
        FROM '{SF_DIR}/events.parquet'
        WHERE user_id % 41 != (2*user_id + event_id) % 41"""
            ).fetchall(),
        )
    )
    adj = collections.defaultdict(set)
    for lo, hi in edges:
        adj[lo].add(hi)
        adj[hi].add(lo)
    sigma = {s: 1 for s in (0, 1, 2, 3)}
    dist = {s: 0 for s in sigma}
    frontier = dict(sigma)
    for d in (1, 2, 3):
        nxt = collections.Counter()
        for u, su in frontier.items():
            for v in adj[u]:
                if v not in dist:
                    nxt[v] += su
        for v, sv in nxt.items():
            dist[v] = d
            sigma[v] = sv
        frontier = dict(nxt)
    got = {
        r.n: (r.dist, r.sigma)
        for r in QUERIES["q_path_counts"](spark, SF_DIR).collect()
    }
    assert got == {n: (dist[n], sigma[n]) for n in sigma}
    assert any(s > 1 for s in sigma.values())  # real multiplicity


def test_lifo_costing_witness(spark, duck):
    rows = duck.sql(
        f"""SELECT l_partkey % 2000, CAST(l_quantity AS BIGINT),
               l_partkey % 20 + 1, l_linenumber % 2,
               l_shipdate, l_orderkey, l_linenumber, l_partkey, l_suppkey
        FROM '{SF_DIR}/lineitem.parquet'"""
    ).fetchall()
    buys = collections.defaultdict(list)
    demand = collections.Counter()
    for key, qty, cost, side, *order in rows:
        if side == 0:
            buys[key].append((tuple(order), qty, cost))
        else:
            demand[key] += qty
    for r in QUERIES["q_lifo_costing"](spark, SF_DIR).collect():
        layers = sorted(buys[r.key], reverse=True)  # latest first
        q = demand[r.key]
        cogs = end = matched = 0
        rem = q
        for _o, qty, cost in layers:
            m = min(qty, max(rem, 0))
            rem -= m
            cogs += m * cost
            end += (qty - m) * cost
            matched += m
        assert (
            r.cogs_cost,
            r.ending_cost,
            r.matched_units,
            r.unmet_demand,
        ) == (cogs, end, matched, max(0, rem))


def test_peak_prominence_witness(spark, duck):
    daily = collections.defaultdict(dict)
    for _eid, _us, _uid, etype, val, d in _events(duck):
        daily[etype][d] = daily[etype].get(d, 0) + round(val * 100)
    exp = {}
    for etype, series in daily.items():
        days = sorted(series)
        for i in range(1, len(days) - 1):
            x, p, n = (
                series[days[i]],
                series[days[i - 1]],
                series[days[i + 1]],
            )
            if x > p and x > n:
                exp[(etype, days[i])] = (x, x - p, x - n, min(x - p, x - n))
    got = {
        (r.event_type, r.d): (
            r.x,
            r.left_rise,
            r.right_drop,
            r.prominence_min,
        )
        for r in QUERIES["q_peak_prominence"](spark, SF_DIR).collect()
    }
    assert got == exp and got


def test_clustering_coeff_witness(spark, duck):
    edges = set(
        map(
            tuple,
            duck.sql(
                f"""
        SELECT DISTINCT least(user_id % 41, (2*user_id + event_id) % 41),
               greatest(user_id % 41, (2*user_id + event_id) % 41)
        FROM '{SF_DIR}/events.parquet'
        WHERE user_id % 41 != (2*user_id + event_id) % 41"""
            ).fetchall(),
        )
    )
    adj = collections.defaultdict(set)
    for lo, hi in edges:
        adj[lo].add(hi)
        adj[hi].add(lo)
    for r in QUERIES["q_clustering_coeff"](spark, SF_DIR).collect():
        d = len(adj[r.n])
        tri = sum(
            1
            for u in adj[r.n]
            for v in adj[r.n]
            if u < v and v in adj[u]
        )
        assert (r.d, r.n_tri) == (d, tri)
        assert r.clustering == pytest.approx(
            2.0 * tri / (d * (d - 1)), rel=1e-12
        )


def test_ecod_outlier_witness(spark, duck):
    groups = collections.defaultdict(list)
    for eid, _us, _uid, etype, val, _d in _events(duck):
        groups[etype].append((round(val * 100), eid))
    rows = QUERIES["q_ecod_outlier"](spark, SF_DIR).collect()
    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for etype, xs in groups.items():
        n = len(xs)
        svals = sorted(x for x, _ in xs)
        import bisect

        def score(x):
            le = bisect.bisect_right(svals, x)
            ge = n - bisect.bisect_left(svals, x)
            return int(
                math.floor(-math.log(le / n) * 1e9 + 0.5)
            ) + int(math.floor(-math.log(ge / n) * 1e9 + 0.5))

        ranked = sorted(
            ((score(x), x, eid) for x, eid in xs),
            key=lambda t: (-t[0], t[1], t[2]),
        )[:5]
        got = [
            (r.score_nano, r.x_cents, r.event_id)
            for r in sorted(by_type[etype], key=lambda r: r.rn)
        ]
        assert got == ranked, etype


def test_jarque_bera_witness(spark, duck):
    groups = collections.defaultdict(list)
    for _eid, _us, _uid, etype, val, _d in _events(duck):
        groups[etype].append(int(math.floor(val)))
    for r in QUERIES["q_jarque_bera"](spark, SF_DIR).collect():
        xs = groups[r.event_type]
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum(x * x for x in xs) / n - mu * mu
        m3 = sum((x - mu) ** 3 for x in xs) / n
        m4 = sum((x - mu) ** 4 for x in xs) / n
        skew = m3 / m2**1.5
        kurt = m4 / m2**2 - 3.0
        jb = n / 6.0 * (skew**2 + kurt**2 / 4.0)
        assert r.n == n
        assert r.skewness == pytest.approx(skew, rel=1e-9)
        assert r.kurt_excess == pytest.approx(kurt, rel=1e-9)
        assert r.jb == pytest.approx(jb, rel=1e-9)
        assert r.reject_normal == (1 if r.jb > 5.99 else 0)


def test_page_hinkley_witness(spark, duck):
    daily = collections.defaultdict(dict)
    for _eid, _us, _uid, etype, val, d in _events(duck):
        daily[etype][d] = daily[etype].get(d, 0) + round(val * 100)
    for r in QUERIES["q_page_hinkley"](spark, SF_DIR).collect():
        series = [x for _, x in sorted(daily[r.event_type].items())]
        days = sorted(daily[r.event_type])
        n, s = len(series), sum(series)
        best = None
        cum, mn = 0, None
        for t, (d, x) in enumerate(zip(days, series), start=1):
            cum += x
            m_t = n * cum - t * s
            mn = m_t if mn is None else min(mn, m_t)
            ph = m_t - mn
            if best is None or ph > best[0]:
                best = (ph, d)
        assert (r.n_days, r.change_day, r.ph_max) == (n, best[1], best[0])


def test_wasserstein_bucketed_witness(spark, duck):
    ca, cb = collections.Counter(), collections.Counter()
    for _eid, _us, _uid, etype, val, _d in _events(duck):
        b = round(val * 100) // 64
        if etype == "click":
            ca[b] += 1
        elif etype == "view":
            cb[b] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    cuma = cumb = w1_num = 0
    for b in sorted(set(ca) | set(cb)):
        cuma += ca[b]
        cumb += cb[b]
        w1_num += abs(cuma * nb - cumb * na) * 64
    (row,) = QUERIES["q_wasserstein_bucketed"](spark, SF_DIR).collect()
    assert (row.n_a, row.n_b, row.w1_num) == (na, nb, w1_num)
    assert row.w1 == pytest.approx(w1_num / (na * nb * 100.0), rel=1e-12)
    assert w1_num > 0


def test_no_python_row_udfs_in_round12_batch3(spark):
    for name in (
        "q_path_counts",
        "q_lifo_costing",
        "q_peak_prominence",
        "q_clustering_coeff",
        "q_ecod_outlier",
        "q_jarque_bera",
        "q_page_hinkley",
        "q_wasserstein_bucketed",
    ):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = executed_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


# ---------------------------------------------------------- batch 4


def test_mutual_info_witness(spark, duck):
    cells = collections.Counter()
    for _eid, _us, _uid, etype, val, _d in _events(duck):
        cells[(etype, round(val * 100) // 12500)] += 1
    n = sum(cells.values())
    mt = collections.Counter()
    mb = collections.Counter()
    for (t, b), c in cells.items():
        mt[t] += c
        mb[b] += c
    mi_nano_n = sum(
        c * int(math.floor(math.log(c * n / (mt[t] * mb[b])) * 1e9 + 0.5))
        for (t, b), c in cells.items()
    )
    ht = sum(
        c * int(math.floor(-math.log(c / n) * 1e9 + 0.5))
        for c in mt.values()
    )
    hb = sum(
        c * int(math.floor(-math.log(c / n) * 1e9 + 0.5))
        for c in mb.values()
    )
    (row,) = QUERIES["q_mutual_info"](spark, SF_DIR).collect()
    assert (row.n, row.mi_nano_n, row.ht_nano_n, row.hb_nano_n) == (
        n,
        mi_nano_n,
        ht,
        hb,
    )
    assert 0 <= row.mi_nats  # MI is nonnegative (up to lattice rounding)


def _mod41_graph(duck):
    edges = set(
        map(
            tuple,
            duck.sql(
                f"""
        SELECT DISTINCT least(user_id % 41, (2*user_id + event_id) % 41),
               greatest(user_id % 41, (2*user_id + event_id) % 41)
        FROM '{SF_DIR}/events.parquet'
        WHERE user_id % 41 != (2*user_id + event_id) % 41"""
            ).fetchall(),
        )
    )
    adj = collections.defaultdict(set)
    for lo, hi in edges:
        adj[lo].add(hi)
        adj[hi].add(lo)
    return edges, adj


def test_rich_club_witness(spark, duck):
    edges, adj = _mod41_graph(duck)
    for r in QUERIES["q_rich_club"](spark, SF_DIR).collect():
        club = {n for n in adj if len(adj[n]) > r.k}
        ek = sum(1 for lo, hi in edges if lo in club and hi in club)
        assert (r.n_k, r.e_k) == (len(club), ek)
        assert r.phi == pytest.approx(
            2.0 * ek / (len(club) * (len(club) - 1)), rel=1e-12
        )


def test_power_analysis_witness(spark, duck):
    za, zb = 1.959963984540054, 0.8416212335729143
    groups = collections.defaultdict(lambda: [0, 0])
    for _eid, _us, _uid, etype, val, _d in _events(duck):
        groups[etype][0] += 1
        groups[etype][1] += 1 if val > 250 else 0
    for r in QUERIES["q_power_analysis"](spark, SF_DIR).collect():
        n, k = groups[r.event_type]
        assert k > 0
        p1 = k / n
        p2 = p1 * 1.1
        pbar = (p1 + p2) / 2.0
        req = (
            za * math.sqrt(2 * pbar * (1 - pbar))
            + zb * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
        ) ** 2 / (p2 - p1) ** 2
        assert (r.n, r.k) == (n, k)
        assert r.n_required == pytest.approx(req, rel=1e-9)
        assert r.n_required_ceil == math.ceil(r.n_required)


def test_knee_detection_witness(spark, duck):
    spend = {
        ck: s
        for ck, s in duck.sql(
            f"""SELECT o_custkey,
               SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            FROM '{SF_DIR}/orders.parquet' GROUP BY o_custkey"""
        ).fetchall()
    }
    bkt = collections.defaultdict(lambda: [0, 0])
    for s in spend.values():
        bkt[s // 65536][0] += 1
        bkt[s // 65536][1] += s
    nn = sum(v[0] for v in bkt.values())
    ss = sum(v[1] for v in bkt.values())
    x = y = 0
    best = None
    for b in sorted(bkt, reverse=True):
        x += bkt[b][0]
        y += bkt[b][1]
        d = abs(y * nn - x * ss)
        if best is None or d > best[0]:
            best = (d, b, x, y)
    (row,) = QUERIES["q_knee_detection"](spark, SF_DIR).collect()
    assert (
        row.knee_bucket,
        row.n_cust_at_knee,
        row.rev_at_knee,
        row.n_total,
        row.rev_total,
        row.dist_num,
    ) == (best[1], best[2], best[3], nn, ss, best[0])


def test_ljung_box_witness(spark, duck):
    daily = collections.defaultdict(dict)
    for _eid, _us, _uid, etype, val, d in _events(duck):
        daily[etype][d] = daily[etype].get(d, 0) + round(val * 100)
    for r in QUERIES["q_ljung_box"](spark, SF_DIR).collect():
        xs = [x // 1024 for _, x in sorted(daily[r.event_type].items())]
        n, s = len(xs), sum(xs)
        dev = [n * x - s for x in xs]
        den = sum(d * d for d in dev)
        nums = [
            sum(dev[t] * dev[t + k] for t in range(n - k))
            for k in (1, 2, 3, 4, 5)
        ]
        assert (r.n, r.den) == (n, den)
        assert [r.num1, r.num2, r.num3, r.num4, r.num5] == nums
        q = (
            n
            * (n + 2.0)
            * sum(
                (nk / den) ** 2 / (n - k)
                for k, nk in zip((1, 2, 3, 4, 5), nums)
            )
        )
        assert r.q_lb == pytest.approx(q, rel=1e-9)


def test_pca_closed_form_witness(spark, duck):
    groups = collections.defaultdict(list)
    rows = duck.sql(
        f"SELECT event_type, CAST(round(value*100) AS BIGINT),"
        f" CAST(date_part('hour', ts) AS BIGINT)"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    for etype, x, y in rows:
        groups[etype].append((x, y))
    for r in QUERIES["q_pca_closed_form"](spark, SF_DIR).collect():
        pts = groups[r.event_type]
        n = len(pts)
        mx = sum(x for x, _ in pts) / n
        my = sum(y for _, y in pts) / n
        vx = sum(x * x for x, _ in pts) / n - mx * mx
        vy = sum(y * y for _, y in pts) / n - my * my
        cxy = sum(x * y for x, y in pts) / n - mx * my
        tr, det = vx + vy, vx * vy - cxy * cxy
        disc = math.sqrt(tr * tr - 4 * det)
        l1, l2 = (tr + disc) / 2, (tr - disc) / 2
        assert r.var_x == pytest.approx(vx, rel=1e-9)
        assert r.lambda1 == pytest.approx(l1, rel=1e-9)
        assert r.lambda2 == pytest.approx(l2, rel=1e-9)
        # eigen identity: lambda1 + lambda2 = trace
        assert r.lambda1 + r.lambda2 == pytest.approx(tr, rel=1e-9)
        if cxy:
            assert r.pc1_slope == pytest.approx((l1 - vx) / cxy, rel=1e-9)


def test_luby_mis_witness(spark, duck):
    edges, adj = _mod41_graph(duck)

    def pri(n):
        return int(hashlib.md5(str(n).encode()).hexdigest()[:12], 16) * 41 + n

    rem = set(adj)
    exp = {}
    for rnd in (1, 2, 3):
        mis = {
            n
            for n in rem
            if all(pri(n) < pri(m) for m in adj[n] if m in rem)
        }
        for n in mis:
            exp[n] = rnd
        rem -= mis | {m for n in mis for m in adj[n]}
    got = {
        r.n: r.round for r in QUERIES["q_luby_mis"](spark, SF_DIR).collect()
    }
    assert got == exp
    # independence: no two MIS members are adjacent
    mis_nodes = set(got)
    assert not any(
        hi in mis_nodes and lo in mis_nodes for lo, hi in edges
    )
    # maximality at convergence: every remaining node has a MIS neighbor
    if not rem:
        for n in adj:
            assert n in mis_nodes or any(m in mis_nodes for m in adj[n])


def test_no_python_row_udfs_in_round12_batch4(spark):
    for name in (
        "q_mutual_info",
        "q_rich_club",
        "q_power_analysis",
        "q_knee_detection",
        "q_ljung_box",
        "q_pca_closed_form",
        "q_luby_mis",
    ):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = executed_plan(df)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
