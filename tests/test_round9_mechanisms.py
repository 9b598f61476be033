"""Pure-Python witnesses for the round-9 mechanism queries at sf0.001 —
independent recomputation (no SQL on either engine), the third leg of
the per-batch validation loop."""

from __future__ import annotations

import collections


from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR


def _mst_edges(duck):
    """The q_mst_boruvka synthetic graph, derived independently."""
    rows = duck.sql(
        f"SELECT event_id, user_id FROM '{SF_DIR}/events.parquet' "
        f"WHERE event_id % 23 = 0"
    ).fetchall()
    E = {}
    for eid, uid in rows:
        blk = uid // 16
        v = blk * 16 + ((uid % 16 + 1 + eid % 15) % 16)
        a, b = min(uid, v), max(uid, v)
        E[(blk, a, b)] = 1 + (a * 31 + b * 17) % 8
    return E


def _kruskal(E):
    """Reference MSF: Kruskal with union-find — a THIRD algorithm,
    independent of both the Spark Borůvka and the oracle's threshold
    identity."""
    blocks = collections.defaultdict(list)
    nodes = collections.defaultdict(set)
    for (b, u, v), w in E.items():
        blocks[b].append((w, u, v))
        nodes[b].update((u, v))
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = {}
    for b in blocks:
        for n in nodes[b]:
            parent[n] = n
        wsum = cnt = 0
        for w, u, v in sorted(blocks[b]):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
                wsum += w
                cnt += 1
        comps = len({find(n) for n in nodes[b]})
        out[b] = (len(nodes[b]), comps, cnt, wsum)
    return out


def test_mst_boruvka_matches_kruskal_witness(spark, duck):
    want = _kruskal(_mst_edges(duck))
    got = {
        r.block: (r.n_nodes, r.n_components, r.n_mst_edges, r.mst_weight)
        for r in QUERIES["q_mst_boruvka"](spark, SF_DIR).collect()
    }
    assert got == want


def test_mst_weight_is_tie_invariant(duck):
    # the oracle relies on MSF weight being identical across ALL
    # minimum spanning forests; witness it by running Kruskal under a
    # reversed tie-break order and comparing weights and edge counts
    E = _mst_edges(duck)
    base = _kruskal(E)
    flipped = _kruskal(
        {(b, -u, -v): w for (b, u, v), w in E.items()}
    )
    # node relabeling u -> -u preserves blocks/weights but reverses
    # every (u, v) sort tie-break; totals must agree
    for b in base:
        assert base[b][2:] == flipped[b][2:]


def test_spearman_matches_scipy_free_model(spark, duck):
    # independent model: average ranks via sorted lists, rho via the
    # covariance formula on plain Python ints/floats
    rows = duck.sql(
        f"SELECT o_custkey, SUM(CAST(floor(o_totalprice * 100 + 0.5) AS "
        f"BIGINT))::BIGINT, COUNT(*) FROM '{SF_DIR}/orders.parquet' "
        f"GROUP BY o_custkey"
    ).fetchall()
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]

    def avg_ranks2(vals):
        order = sorted(vals)
        first = {}
        for i, v in enumerate(order):
            first.setdefault(v, i + 1)
        cnt = collections.Counter(vals)
        # 2 * average rank of v = 2*first + (cnt-1)  (integer lattice)
        return {v: 2 * first[v] + cnt[v] - 1 for v in cnt}

    rx = avg_ranks2(xs)
    ry = avg_ranks2(ys)
    n = len(xs)
    sx = sum(rx[v] for v in xs)
    sy = sum(ry[v] for v in ys)
    sxx = sum(rx[v] ** 2 for v in xs)
    syy = sum(ry[v] ** 2 for v in ys)
    sxy = sum(rx[a] * ry[b] for a, b in zip(xs, ys))
    got = QUERIES["q_spearman"](spark, SF_DIR).collect()[0]
    assert got.n == n
    assert got.s_xy == n * sxy - sx * sy
    assert got.s_xx == n * sxx - sx * sx
    assert got.s_yy == n * syy - sy * sy
    import math

    want_rho = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    assert abs(got.rho - want_rho) < 1e-12
    # sanity: rank sums are the invariant n(n+1) on the 2x lattice
    assert sx == n * (n + 1) and sy == n * (n + 1)


def test_kendall_matches_brute_force_pairs(spark, duck):
    rows = duck.sql(
        f"SELECT SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
        f"::BIGINT // 100000, COUNT(*) FROM '{SF_DIR}/orders.parquet' "
        f"GROUP BY o_custkey"
    ).fetchall()
    pts = [(int(a), int(b)) for a, b in rows]
    C = D = tx = ty = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    got = QUERIES["q_kendall_tau"](spark, SF_DIR).collect()[0]
    assert (got.concordant, got.discordant) == (C, D)
    assert (got.ties_x, got.ties_y) == (tx, ty)
    assert got.n == len(pts)


def test_ams_f2_estimates_and_exact(spark, duck):
    import hashlib

    rows = duck.sql(
        f"SELECT user_id, COUNT(*) FROM '{SF_DIR}/events.parquet' "
        f"GROUP BY user_id"
    ).fetchall()
    freq = {int(u): int(c) for u, c in rows}
    exact = sum(c * c for c in freq.values())
    ests = []
    for j in range(16):
        s = 0
        for u, c in freq.items():
            nib = hashlib.md5(f"{j}:{u}".encode()).hexdigest()[0]
            s += c if nib in "01234567" else -c
        ests.append(s * s)
    got = {r.j: r for r in QUERIES["q_ams_f2"](spark, SF_DIR).collect()}
    assert len(got) == 16
    for j in range(16):
        assert got[j].est == ests[j]
        assert got[j].exact_f2 == exact
    assert got[0].median_est == sorted(ests)[7]


def test_parity_bipartite_blocks_engineered(spark):
    rows = QUERIES["q_parity_bipartite"](spark, SF_DIR).collect()
    assert rows, "graph must be non-empty"
    for r in rows:
        # blocks drawing only odd slot steps are 2-colorable by
        # construction; the witness is the engineered invariant itself
        if r.block % 3 == 0:
            assert r.is_bipartite and r.n_odd_nodes == 0, r


def test_shoelace_known_square(spark):
    # witness on a hand-computed ring: the query's formula applied to
    # one user's actual vertex ring must equal an independent shoelace
    import duckdb as d

    con = d.connect()
    rows = con.sql(
        f"SELECT user_id, CAST(floor(value * 100.0) AS BIGINT) % 1000, "
        f"(event_id * 7) % 1000 FROM '{SF_DIR}/events.parquet' "
        f"ORDER BY user_id, ts, event_id"
    ).fetchall()
    con.close()
    by_user = collections.defaultdict(list)
    for u, x, y in rows:
        by_user[u].append((int(x), int(y)))
    want = {}
    for u, ring in by_user.items():
        s = 0
        for i, (x, y) in enumerate(ring):
            xn, yn = ring[(i + 1) % len(ring)]
            s += x * yn - xn * y
        want[u] = (len(ring), s, abs(s))
    got = {
        r.user_id: (r.n_vertices, r.twice_signed_area, r.twice_area)
        for r in QUERIES["q_shoelace_area"](spark, SF_DIR).collect()
    }
    assert got == want


def test_transitive_reduction_minimality(spark, duck):
    # witness: recompute reduction with a plain-Python DFS reachability
    rows = duck.sql(
        f"SELECT DISTINCT user_id % 200, user_id % 200 + 1 + event_id % 40 "
        f"FROM '{SF_DIR}/events.parquet' WHERE event_id % 11 = 0"
    ).fetchall()
    edges = {(int(a), int(b)) for a, b in rows}
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)

    import functools

    @functools.lru_cache(maxsize=None)
    def reach(a):
        out = set()
        for b in adj[a]:
            out.add(b)
            out |= reach(b)
        return frozenset(out)

    kept = {
        (a, b)
        for a, b in edges
        if not any(b in reach(c) for c in adj[a])
    }
    before = collections.Counter(a for a, _ in edges)
    after = collections.Counter(a for a, _ in kept)
    got = {
        r.node: (r.out_before, r.out_after)
        for r in QUERIES["q_transitive_reduction"](spark, SF_DIR).collect()
    }
    assert got == {a: (before[a], after.get(a, 0)) for a in before}


def test_kadane_matches_quadratic_brute_force(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, CAST(floor(value * 100.0) AS BIGINT) - 250 "
        f"FROM '{SF_DIR}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    series = collections.defaultdict(list)
    for u, v in rows:
        series[u].append(int(v))
    want = {}
    for u, vs in series.items():
        best = None
        for i in range(len(vs)):
            run = 0
            for j in range(i, len(vs)):
                run += vs[j]
                best = run if best is None or run > best else best
        want[u] = (len(vs), sum(vs), best)
    got = {
        r.user_id: (r.n, r.total, r.best_subarray_sum)
        for r in QUERIES["q_kadane_max_subarray"](spark, SF_DIR).collect()
    }
    assert got == want


def test_rain_water_matches_two_pointer_model(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, CAST(floor(value * 100.0) AS BIGINT) % 500 "
        f"FROM '{SF_DIR}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    series = collections.defaultdict(list)
    for u, h in rows:
        series[u].append(int(h))
    want = {}
    nonzero = 0
    for u, hs in series.items():
        ml, acc = [], 0
        for h in hs:
            acc = max(acc, h)
            ml.append(acc)
        mr, acc = [0] * len(hs), 0
        for i in range(len(hs) - 1, -1, -1):
            acc = max(acc, hs[i])
            mr[i] = acc
        water = sum(min(a, b) - h for a, b, h in zip(ml, mr, hs))
        want[u] = (len(hs), max(hs), water)
        nonzero += water > 0
    got = {
        r.user_id: (r.n_bars, r.peak, r.water)
        for r in QUERIES["q_rain_water"](spark, SF_DIR).collect()
    }
    assert got == want
    assert nonzero == len(want)  # every user's basin holds water


def test_fd_check_verdicts(spark):
    rows = {r.fd: r for r in QUERIES["q_fd_check"](spark, SF_DIR).collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert r.holds == (r.n_violating == 0)
        assert 1 <= r.max_rhs
        assert (r.max_rhs > 1) == (not r.holds)


def test_haar_wavelet_reconstructs(spark, duck):
    # inverse transform witness: level-5 (s, d) must reconstruct the
    # densified series exactly level by level
    rows = QUERIES["q_haar_wavelet"](spark, SF_DIR).collect()
    per = collections.defaultdict(dict)
    for r in rows:
        per[r.user_id][(r.level, r.k)] = (r.s, r.d)
    base = duck.sql(
        f"SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 32, "
        f"COUNT(*) FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    dense = collections.defaultdict(lambda: [0] * 32)
    for u, b, c in base:
        dense[u][int(b)] = int(c)
    for u, vs in dense.items():
        coeffs = per[u]
        # top-down reconstruction: s at level l, index k splits into
        # (s+d)/2, (s-d)/2 at level l-1
        cur = {0: coeffs[(5, 0)][0]}
        for lvl in range(5, 0, -1):
            nxt = {}
            for k, s in cur.items():
                d = coeffs[(lvl, k)][1]
                assert (s + d) % 2 == 0
                nxt[2 * k] = (s + d) // 2
                nxt[2 * k + 1] = (s - d) // 2
            cur = nxt
        assert [cur[i] for i in range(32)] == vs


def test_multiset_ops_multiplicity_algebra(spark, duck):
    rows = duck.sql(
        f"SELECT CAST(l_quantity AS BIGINT), l_returnflag, COUNT(*) "
        f"FROM '{SF_DIR}/lineitem.parquet' "
        f"WHERE l_returnflag IN ('R', 'A') GROUP BY 1, 2"
    ).fetchall()
    ma, mb = collections.Counter(), collections.Counter()
    for q, flag, c in rows:
        (ma if flag == "R" else mb)[int(q)] = int(c)
    want = {}
    for q in set(ma) | set(mb):
        ex = max(0, ma[q] - mb[q])
        iv = min(ma[q], mb[q])
        if ex:
            want[(q, "except_all")] = ex
        if iv:
            want[(q, "intersect_all")] = iv
    got = {
        (r.q, r.tag): r.multiplicity
        for r in QUERIES["q_multiset_ops"](spark, SF_DIR).collect()
    }
    assert got == want


def test_fifo_costing_matches_sequential_simulation(spark, duck):
    # witness: a two-pointer FIFO LAYER matching (k-th unit sold
    # matches the k-th unit bought, each stream in its own arrival
    # order — backorder semantics, the standard SQL FIFO costing),
    # implemented as queue walking instead of the relational
    # range-intersection join
    rows = duck.sql(
        f"SELECT l_partkey % 2000, CAST(l_quantity AS BIGINT), "
        f"l_partkey % 20 + 1, l_linenumber % 2 "
        f"FROM '{SF_DIR}/lineitem.parquet' "
        f"ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, "
        f"l_suppkey"
    ).fetchall()
    from collections import defaultdict

    buys = defaultdict(list)
    sales = defaultdict(list)
    bought = defaultdict(int)
    sold = defaultdict(int)
    for key, qty, cost, side in rows:
        if side == 0:
            buys[key].append([qty, cost])
            bought[key] += qty
        else:
            sales[key].append(qty)
            sold[key] += qty
    want = {}
    for k in bought:
        bq = [list(x) for x in buys[k]]
        sq = list(sales[k])
        bi = si = mq = mc = 0
        while bi < len(bq) and si < len(sq):
            take = min(bq[bi][0], sq[si])
            mq += take
            mc += take * bq[bi][1]
            bq[bi][0] -= take
            sq[si] -= take
            if bq[bi][0] == 0:
                bi += 1
            if sq[si] == 0:
                si += 1
        want[k] = (bought[k], sold[k], mq, mc, bought[k] - mq)
    got = {
        r.key: (r.bought, r.sold, r.matched_qty, r.matched_cost,
                r.inventory_left)
        for r in QUERIES["q_fifo_costing"](spark, SF_DIR).collect()
    }
    assert got == want


def test_waterfill_is_optimal_waterline(spark, duck):
    rows = duck.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet' GROUP BY o_custkey"
    ).fetchall()
    dem = [int(r[0]) for r in rows]
    n, total = len(dem), sum(dem)
    cap = (total * 3) // 5

    def S(lam):
        return sum(min(d, lam) for d in dem)

    got = QUERIES["q_waterfill"](spark, SF_DIR).collect()[0]
    assert (got.n, got.total, got.cap) == (n, total, cap)
    # optimality: feasible at lambda*, infeasible at lambda*+1
    assert S(got.lambda_star) <= cap < S(got.lambda_star + 1)
    assert got.allocated == S(got.lambda_star)
    assert got.leftover == cap - got.allocated
    assert got.n_capped == sum(d > got.lambda_star for d in dem)


def test_k_anonymity_risk_monotone_under_generalization(spark):
    rows = QUERIES["q_k_anonymity"](spark, SF_DIR).collect()
    assert [r.level for r in rows] == [0, 1, 2]
    # coarsening the quasi-identifier can only merge groups: risk rows
    # and group counts are monotone non-increasing up the lattice
    for a, b in zip(rows, rows[1:]):
        assert b.n_groups <= a.n_groups
        assert b.n_risk_rows <= a.n_risk_rows


def test_union_area_matches_grid_rasterization(spark, duck):
    # witness: brute-force rasterization on the bounded integer grid
    rows = duck.sql(
        f"SELECT DISTINCT user_id % 200 FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    cells = set()
    rects = 0
    for (u,) in rows:
        u = int(u)
        rects += 1
        x1, y1 = (u * 13) % 256, (u * 29) % 256
        x2 = x1 + 8 + (u * 7) % 32
        y2 = y1 + 8 + (u * 11) % 32
        for x in range(x1, x2):
            for y in range(y1, y2):
                cells.add((x, y))
    got = QUERIES["q_union_area_rects"](spark, SF_DIR).collect()[0]
    assert got.n_rects == rects
    assert got.union_area == len(cells)
    assert got.x_span == len({x for x, _ in cells})


def test_bitemporal_probes_see_disjoint_versions(spark, duck):
    # witness: per probe, replay visibility with plain Python interval
    # logic; also require the probes to be non-vacuous (some probe
    # sees data) and each key to contribute at most one version
    rows = duck.sql(
        f"SELECT o_orderkey, "
        f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), "
        f"CAST(floor(epoch(o_orderdate)) AS BIGINT) "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    FAR = 253402300800
    P0 = 833587200
    probes = [(P0 + p * 31536000, P0 + p * 31536000 + 43200, p)
              for p in range(4)]
    want = {}
    for ok, cents, ep in rows:
        nv = ok % 3 + 1
        vers = []
        for v in range(nv):
            vf, tf = ep + v * 86400, ep + v * 43200
            vers.append((cents + v * 100, vf, tf, v))
        for i, (c, vf, tf, v) in enumerate(vers):
            vt = vers[i + 1][1] if i + 1 < nv else FAR
            tt = vers[i + 1][2] if i + 1 < nv else FAR
            for valid_t, tx_t, p in probes:
                if vf <= valid_t < vt and tf <= tx_t < tt:
                    n, s = want.get(p, (0, 0))
                    want[p] = (n + 1, s + c)
    got = {
        r.probe: (r.n_visible, r.sum_cents)
        for r in QUERIES["q_bitemporal_asof"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) >= 2  # multiple probes genuinely see data


def test_late_arriving_dim_repairs_all_facts(spark, duck):
    rows = QUERIES["q_late_arriving_dim"](spark, SF_DIR).collect()
    n_facts = sum(r.n_facts for r in rows)
    (total,) = duck.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/events.parquet'"
    ).fetchone()
    assert n_facts == total  # no fact dropped: the repair is total
    inferred = [r for r in rows if r.inferred]
    assert inferred and all(r.nation == -1 for r in inferred)


def test_postings_compression_bit_math(spark, duck):
    rows = duck.sql(
        f"SELECT DISTINCT event_type, event_id FROM "
        f"'{SF_DIR}/events.parquet' ORDER BY event_type, event_id"
    ).fetchall()
    per = collections.defaultdict(list)
    for t, d in rows:
        per[t].append(int(d))
    want = {}
    for t, docs in per.items():
        prev = -1
        bits = 0
        for d in docs:
            gap = d - prev
            bits += 2 * gap.bit_length() - 1
            prev = d
        want[t] = (len(docs), 64 * len(docs), bits)
    got = {
        r.term: (r.n_postings, r.raw_bits, r.gamma_bits)
        for r in QUERIES["q_postings_compression"](spark, SF_DIR).collect()
    }
    assert got == want
    # gamma genuinely compresses on this data
    assert all(g < raw for _, (_, raw, g) in
               zip(got, (got[t] for t in got)))


def test_holt_matches_python_recursion(spark, duck):
    base = duck.sql(
        f"SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 32, "
        f"COUNT(*) FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    dense = collections.defaultdict(lambda: [0.0] * 32)
    for u, b, c in base:
        dense[u][int(b)] = float(c)
    want = {}
    for u, xs in dense.items():
        l, b = xs[0], 0.0
        for x in xs[1:]:
            # the expanded linear form BOTH engines execute
            l, b = (
                0.25 * x + 0.75 * l + 0.75 * b,
                0.03125 * x - 0.03125 * l + 0.96875 * b,
            )
        want[u] = (l, b, l + b)
    got = {
        r.user_id: (r.level, r.trend, r.forecast_1)
        for r in QUERIES["q_holt_smoothing"](spark, SF_DIR).collect()
    }
    # bit-exact: the whole point of the order-pinned fold
    assert got == want
