"""Pure-Python witnesses for the round-10 mechanism queries at sf0.001 —
independent recomputation (no SQL on either engine), the third leg of
the per-batch validation loop."""

from __future__ import annotations

import collections
import hashlib

import pytest

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR


def _events(duck):
    return duck.sql(
        f"SELECT event_id, epoch_us(ts), user_id, event_type, "
        f"strftime(ts, '%Y-%m-%d') FROM '{SF_DIR}/events.parquet'"
    ).fetchall()


def test_scd2_replay_witness(spark, duck):
    rows = _events(duck)
    latest = {}
    for eid, _us, uid, etype, day in rows:
        k = uid % 499
        cur = latest.get((k, day))
        if cur is None or eid > cur[0]:
            n = (cur[2] + 1) if cur else 1
            latest[(k, day)] = (eid, etype, n)
        else:
            latest[(k, day)] = (cur[0], cur[1], cur[2] + 1)
    exp = {}
    per_key = collections.defaultdict(list)
    for (k, day), (eid, status, n) in latest.items():
        per_key[k].append((day, eid, status, n))
    for k, vs in per_key.items():
        vs.sort()
        for i, (day, eid, status, n) in enumerate(vs):
            nxt = vs[i + 1][0] if i + 1 < len(vs) else None
            exp[(k, day)] = (
                nxt,
                status,
                eid,
                n - 1,
                i + 1,
                1 if nxt is None else 0,
            )
    got = QUERIES["q_scd2_replay"](spark, SF_DIR).collect()
    assert len(got) == len(exp)
    for r in got:
        e = exp[(r.k, r.effective_from)]
        assert (
            r.effective_to,
            r.status,
            r.src_event,
            r.n_late_corrections,
            r.version,
            r.is_current,
        ) == e


def test_event_debounce_witness(spark, duck):
    rows = _events(duck)
    per = collections.defaultdict(list)
    for eid, us, uid, _t, _d in rows:
        per[uid].append((us, eid))
    exp = {}
    for uid, xs in per.items():
        xs.sort()
        last, kept = xs[0][0], 1
        for us, _ in xs[1:]:
            if us - last >= 600_000_000:
                last, kept = us, kept + 1
        exp[uid] = (len(xs), kept, last)
    got = QUERIES["q_event_debounce"](spark, SF_DIR).collect()
    assert len(got) == len(exp)
    for r in got:
        n, kept, _last = exp[r.user_id]
        assert (r.n_events, r.n_kept) == (n, kept)


def test_max_concurrency_witness(spark, duck):
    rows = _events(duck)
    by_type = collections.defaultdict(list)
    for eid, us, _u, etype, _d in rows:
        e = us + 60_000_000 * (1 + eid % 7)
        by_type[etype].append((us, 1, eid))
        by_type[etype].append((e, -1, eid))
    exp = {}
    for etype, bs in by_type.items():
        bs.sort()
        c = mx = 0
        first = None
        for t, d, _ in bs:
            c += d
            if c > mx:
                mx, first = c, t
        exp[etype] = (mx, first)
    got = QUERIES["q_max_concurrency"](spark, SF_DIR).collect()
    assert {r.event_type: r.max_concurrent for r in got} == {
        k: v[0] for k, v in exp.items()
    }


def test_interval_scheduling_witness(spark, duck):
    rows = _events(duck)
    per = collections.defaultdict(list)
    for eid, us, uid, _t, _d in rows:
        per[uid].append((us + 60_000_000 * (1 + eid % 11), us, eid))
    exp = {}
    for uid, xs in per.items():
        xs.sort()
        last_end, n = xs[0][0], 1
        for e, s, _ in xs[1:]:
            if s >= last_end:
                last_end, n = e, n + 1
        exp[uid] = (len(xs), n)
    got = QUERIES["q_interval_scheduling"](spark, SF_DIR).collect()
    assert {r.user_id: (r.n_intervals, r.n_selected) for r in got} == exp


def test_temporal_sum_timeline_witness(spark, duck):
    orders = duck.sql(
        f"SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    delta = collections.Counter()
    for ok, sd in orders:
        v = 1 + ok % 97
        delta[sd] += v
        delta[sd + 1 + ok % 30] -= v
    ts = sorted(delta)
    exp = []
    level = 0
    for i, t in enumerate(ts[:-1]):
        level += delta[t]
        if level != 0:
            exp.append((t, ts[i + 1], level))
    got = sorted(
        (r.seg_start_day, r.seg_end_day, r.level)
        for r in QUERIES["q_temporal_sum_timeline"](spark, SF_DIR).collect()
    )
    assert got == exp
    # levels tile the timeline: every segment's start is the prior end
    for (s1, e1, _), (s2, _, _) in zip(got, got[1:]):
        assert e1 <= s2


def test_largest_remainder_witness(spark, duck):
    counts = dict(
        duck.sql(
            f"SELECT source, COUNT(*) FROM '{SF_DIR}/documents.parquet' "
            f"GROUP BY source"
        ).fetchall()
    )
    N = sum(counts.values())
    base = {s: (1000 * n) // N for s, n in counts.items()}
    rem = {s: (1000 * n) % N for s, n in counts.items()}
    deficit = 1000 - sum(base.values())
    order = sorted(counts, key=lambda s: (-rem[s], s))
    exp = {
        s: base[s] + (1 if i < deficit else 0) for i, s in enumerate(order)
    }
    got = {
        r.source: r.shards
        for r in QUERIES["q_largest_remainder"](spark, SF_DIR).collect()
    }
    assert got == exp
    assert sum(got.values()) == 1000


def test_dhondt_witness(spark, duck):
    counts = dict(
        duck.sql(
            f"SELECT source, COUNT(*) FROM '{SF_DIR}/documents.parquet' "
            f"GROUP BY source"
        ).fetchall()
    )
    from fractions import Fraction

    quot = [
        (Fraction(n, k), s, k)
        for s, n in counts.items()
        for k in range(1, 101)
    ]
    quot.sort(key=lambda t: (-t[0], t[1], t[2]))
    exp = collections.Counter(s for _, s, _ in quot[:100])
    got = {
        r.source: r.seats
        for r in QUERIES["q_dhondt"](spark, SF_DIR).collect()
    }
    assert {s: c for s, c in got.items() if c} == dict(exp)
    assert sum(got.values()) == 100


def test_l_diversity_witness(spark, duck):
    cust = duck.sql(
        f"SELECT c_nationkey, c_acctbal, c_mktsegment "
        f"FROM '{SF_DIR}/customer.parquet'"
    ).fetchall()
    import math

    exp = {}
    for lv, quasi_fn in (
        (0, lambda nk, ab: f"{nk}|{int(math.floor(ab / 1000))}"),
        (1, lambda nk, ab: str(nk)),
        (2, lambda nk, ab: str(nk // 5)),
    ):
        cls = collections.defaultdict(list)
        for nk, ab, seg in cust:
            cls[quasi_fn(nk, ab)].append(seg)
        ls = {q: len(set(v)) for q, v in cls.items()}
        exp[lv] = (
            len(cls),
            min(ls.values()),
            sum(1 for v in ls.values() if v < 2),
            sum(len(cls[q]) for q, v in ls.items() if v < 2),
        )
    got = {
        r.level: (r.n_classes, r.min_l, r.n_risky_classes, r.n_risky_rows)
        for r in QUERIES["q_l_diversity"](spark, SF_DIR).collect()
    }
    assert got == exp


def test_partition_digest_witness(spark, duck):
    rows = _events(duck)
    per_day = collections.defaultdict(list)
    for eid, _us, uid, etype, day in rows:
        h = hashlib.md5(f"{eid}|{uid}|{etype}".encode()).hexdigest()
        per_day[day].append((eid, h))
    digests = {}
    for day, hs in per_day.items():
        hs.sort()
        digests[day] = hashlib.md5(
            "".join(h for _, h in hs).encode()
        ).hexdigest()
    root = hashlib.md5(
        "".join(digests[d] for d in sorted(digests)).encode()
    ).hexdigest()
    got = QUERIES["q_partition_digest"](spark, SF_DIR).collect()
    assert {r.dt: r.digest for r in got} == digests
    assert all(r.root_digest == root for r in got)


def test_knn_reciprocity_witness(spark, duck):
    emb = duck.sql(
        f"SELECT vec_id, label, embedding "
        f"FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchall()
    buckets = collections.defaultdict(list)
    for vid, label, e in emb:
        e = [float(x) for x in e]
        b = sum(2**i for i in range(8) if e[i] > 0)
        buckets[b].append((vid, label, e))
    import math

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)

    knn = set()
    labels = {}
    for b, vs in buckets.items():
        for vid, label, e in vs:
            labels[vid] = label
            cands = sorted(
                ((-cos(e, e2), v2) for v2, _, e2 in vs if v2 != vid),
            )[:3]
            for _, v2 in cands:
                knn.add((vid, v2))
    per_label = collections.defaultdict(lambda: [0, 0])
    for s, d in knn:
        per_label[labels[s]][0] += 1
        per_label[labels[s]][1] += (d, s) in knn
    got = {
        r.label: (r.n_edges, r.n_mutual)
        for r in QUERIES["q_knn_reciprocity"](spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in per_label.items()}


def test_anova_f_witness(spark, duck):
    vals = duck.sql(
        f"SELECT event_type, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    import math

    groups = collections.defaultdict(list)
    for t, v in vals:
        groups[t].append(math.floor(v * 1000))
    k = len(groups)
    N = sum(len(v) for v in groups.values())
    S = sum(sum(v) for v in groups.values())
    Q = sum(c * c for v in groups.values() for c in v)
    sum_terms = 0.0
    for t in sorted(groups):
        sg, ng = float(sum(groups[t])), float(len(groups[t]))
        sum_terms += sg * sg / ng
    ssb = sum_terms - float(S) * float(S) / float(N)
    ssw = float(Q) - sum_terms
    f = (ssb / (k - 1)) / (ssw / (N - k))
    r = QUERIES["q_anova_f"](spark, SF_DIR).collect()[0]
    assert (r.k, r.n) == (k, N)
    assert r.ssb == pytest.approx(ssb, rel=1e-12)
    assert r.f_stat == pytest.approx(f, rel=1e-12)
    assert r.f_stat > 0


def test_wilson_ci_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, event_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    import math

    per = collections.defaultdict(lambda: [0, 0])
    for t, eid in rows:
        per[t][0] += 1
        per[t][1] += eid % 5 == 0
    got = {r.event_type: r for r in QUERIES["q_wilson_ci"](spark, SF_DIR).collect()}
    for t, (n, pos) in per.items():
        p = pos / n
        center = p + 1.9208 / n
        rad = 1.96 * math.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
        den = 1.0 + 3.8416 / n
        r = got[t]
        assert (r.n, r.pos) == (n, pos)
        assert r.wilson_lo == pytest.approx((center - rad) / den, rel=1e-12)
        assert r.wilson_hi == pytest.approx((center + rad) / den, rel=1e-12)
        assert 0.0 <= r.wilson_lo <= p <= r.wilson_hi <= 1.0


def test_mcnemar_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, event_id, user_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(lambda: [0, 0])
    for t, eid, uid in rows:
        a, b = eid % 3 == 0, uid % 3 == 0
        per[t][0] += a and not b
        per[t][1] += b and not a
    got = {r.event_type: r for r in QUERIES["q_mcnemar"](spark, SF_DIR).collect()}
    for t, (b, c) in per.items():
        r = got[t]
        assert (r.b, r.c) == (b, c)
        assert r.mcnemar_chi2 == pytest.approx((b - c) ** 2 / (b + c))


def test_benjamini_hochberg_witness(spark, duck):
    cells = duck.sql(
        f"SELECT event_type, EXTRACT(hour FROM ts), COUNT(*) "
        f"FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    tests = []
    for t, hr, n in cells:
        h = int(hashlib.md5(f"{t}-{hr}".encode()).hexdigest()[:6], 16)
        p_num = 1 + (h % 40 if h % 7 == 0 else h % 9999)
        tests.append((p_num, t, hr, n))
    tests.sort()
    m = len(tests)
    kmax = 0
    for i, (p_num, *_rest) in enumerate(tests, 1):
        if p_num * m <= i * 500:
            kmax = i
    got = QUERIES["q_benjamini_hochberg"](spark, SF_DIR).collect()
    assert len(got) == m
    by_rank = {r.rk: r for r in got}
    for i, (p_num, t, hr, n) in enumerate(tests, 1):
        r = by_rank[i]
        assert (r.p_num, r.event_type, r.hr, r.n) == (p_num, t, hr, n)
        assert r.rejected == (1 if i <= kmax else 0)
    # the fixture exercises both verdicts
    assert 0 < sum(r.rejected for r in got) < m


def test_rolling_median_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, epoch_us(ts), event_id, value "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for uid, us, eid, v in rows:
        per[uid].append((us, eid, v))
    exp = {}
    for uid, xs in per.items():
        xs.sort()
        for i in range(len(xs)):
            win = sorted(v for _, _, v in xs[max(0, i - 4) : i + 1])
            exp[(uid, xs[i][1])] = win[(len(win) + 1) // 2 - 1]
    got = {
        (r.user_id, r.event_id): r.med5
        for r in QUERIES["q_rolling_median"](spark, SF_DIR).collect()
    }
    assert got == exp


def test_ip_lpm_route_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id, CAST(floor(value * 10) AS INT) "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    routes = {}
    routes[(8, 10)] = ("core", 8)
    for x in range(64):
        routes[(16, 10 * 256 + x)] = (f"pod-{x % 8}", 16)
    for x in range(64):
        for y in range(16):
            if (x + y) % 3 == 0:
                routes[(24, (10 * 256 + x) * 256 + y)] = (
                    f"rack-{(x * 16 + y) % 10}",
                    24,
                )
    agg = collections.defaultdict(lambda: [0, 0])
    for uid, eid, byt in rows:
        x, y = uid % 64, eid % 16
        ip_hi24 = (10 * 256 + x) * 256 + y
        hop = routes.get((24, ip_hi24)) or routes[(16, 10 * 256 + x)]
        agg[hop][0] += 1
        agg[hop][1] += byt
    got = {
        (r.next_hop, r.prefix_len): (r.n_flows, r.total_bytes)
        for r in QUERIES["q_ip_lpm_route"](spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    # both specificity classes are exercised
    assert any(k[1] == 24 for k in got) and any(k[1] == 16 for k in got)


def test_lift_deciles_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, event_type FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    bands = collections.defaultdict(lambda: [0, 0])
    for eid, t in rows:
        h = int(hashlib.md5(str(eid).encode()).hexdigest()[:6], 16)
        band = (h % 10000) // 1000
        bands[band][0] += 1
        bands[band][1] += t == "purchase"
    tot_n = sum(v[0] for v in bands.values())
    tot_pos = sum(v[1] for v in bands.values())
    got = {
        r.band: r for r in QUERIES["q_lift_deciles"](spark, SF_DIR).collect()
    }
    cum_n = cum_pos = 0
    for band in sorted(bands, reverse=True):
        n, pos = bands[band]
        cum_n += n
        cum_pos += pos
        r = got[band]
        assert (r.n, r.n_pos, r.cum_n, r.cum_pos) == (n, pos, cum_n, cum_pos)
        assert r.lift == pytest.approx(
            (cum_pos / cum_n) / (tot_pos / tot_n)
        )
    # full-population row is exactly lift 1
    assert got[0].cum_n == tot_n and got[0].lift == pytest.approx(1.0)


def test_percentile_interp_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for t, v in rows:
        per[t].append(v)
    got = {
        (r.event_type, r.pnum): r.q
        for r in QUERIES["q_percentile_interp"](spark, SF_DIR).collect()
    }
    for t, vs in per.items():
        vs.sort()
        n = len(vs)
        for pnum in (50, 90, 99):
            hn = (n - 1) * pnum
            lo = hn // 100
            frac = (hn % 100) / 100
            hi = min(lo + 1, n - 1)
            exp = vs[lo] + frac * (vs[hi] - vs[lo])
            assert got[(t, pnum)] == pytest.approx(exp, rel=1e-12)
    # numpy cross-check (type-7 is numpy's default 'linear')
    import numpy as np

    for t, vs in per.items():
        assert got[(t, 90)] == pytest.approx(
            float(np.percentile(vs, 90)), rel=1e-9
        )


def test_consistent_hashing_witness(spark, duck):
    doc_ids = [
        r[0]
        for r in duck.sql(
            f"SELECT doc_id FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    nodes = {
        f"node-{i}": int(
            hashlib.md5(f"node-{i}".encode()).hexdigest()[:12], 16
        )
        for i in range(16)
    }

    def assign(kp, pts):
        ge = [p for p in pts.values() if p >= kp]
        return min(ge) if ge else min(pts.values())

    pts2 = {k: v for k, v in nodes.items() if k != "node-3"}
    before = collections.Counter()
    after = collections.Counter()
    gained = collections.Counter()
    moved = 0
    for d in doc_ids:
        kp = int(hashlib.md5(str(d).encode()).hexdigest()[:12], 16)
        a = assign(kp, nodes)
        a2 = assign(kp, pts2)
        before[a] += 1
        after[a2] += 1
        if a != a2:
            moved += 1
            gained[a2] += 1
    inv = {v: k for k, v in nodes.items()}
    got = {
        r.node: (r.n_before, r.n_after, r.n_gained)
        for r in QUERIES["q_consistent_hashing"](spark, SF_DIR).collect()
    }
    for node, pt in nodes.items():
        assert got[node] == (before[pt], after[pt], gained[pt])
    # the defining property: ONLY node-3's keys moved
    assert moved == before[nodes["node-3"]]
    assert got["node-3"][1] == 0


def test_latency_histogram_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    import math

    per = collections.defaultdict(lambda: collections.Counter())
    for t, v in rows:
        lat = 1 + math.floor(v * 1000)
        per[t][lat.bit_length()] += 1
    got = collections.defaultdict(dict)
    for r in QUERIES["q_latency_histogram"](spark, SF_DIR).collect():
        got[r.event_type][r.bucket] = (r.n, r.cum_n, r.is_p99_bucket)
    for t, cnt in per.items():
        tot = sum(cnt.values())
        cum = 0
        for b in sorted(cnt):
            prev = cum
            cum += cnt[b]
            is99 = 1 if cum * 100 >= tot * 99 and prev * 100 < tot * 99 else 0
            assert got[t][b] == (cnt[b], cum, is99)
        assert sum(v[2] for v in got[t].values()) == 1


def test_ledger_replay_witness(spark, duck):
    rows = duck.sql(
        f"SELECT o_custkey % 199, o_orderkey, epoch_us(o_orderdate), "
        f"o_totalprice FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for acct, ok, us, d in rows:
        per[acct].append((us, ok, (ok % 4) / 256.0, d))
    got = {
        r.account: (r.n_tx, r.final_balance)
        for r in QUERIES["q_ledger_replay"](spark, SF_DIR).collect()
    }
    for acct, xs in per.items():
        xs.sort()
        bal = xs[0][3]
        for _us, _ok, r, d in xs[1:]:
            bal = bal * (1.0 + r) + d
        n, fb = got[acct]
        assert n == len(xs)
        assert fb == bal  # bit-exact: identical IEEE sequence


def test_holt_winters_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 32, "
        f"COUNT(*) FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"
    ).fetchall()
    per = collections.defaultdict(lambda: [0.0] * 32)
    for uid, b, v in rows:
        per[uid][int(b)] = float(v)
    got = {
        r.user_id: r for r in QUERIES["q_holt_winters"](spark, SF_DIR).collect()
    }
    assert set(got) == set(per)
    for uid, xs in per.items():
        l, b = xs[0], 0.0
        s = [0.0, 0.0, 0.0, 0.0]
        for x in xs[1:]:
            l2 = 0.25 * x - 0.25 * s[0] + 0.75 * l + 0.75 * b
            b2 = 0.03125 * x - 0.03125 * s[0] - 0.03125 * l + 0.96875 * b
            s0 = 0.375 * x - 0.375 * l - 0.375 * b + 0.625 * s[0]
            l, b, s = l2, b2, [s[1], s[2], s[3], s0]
        r = got[uid]
        assert (r.level, r.trend, r.s_next) == (l, b, s[0])  # bit-exact
        assert r.forecast_1 == l + b + s[0]


def test_queue_replay_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, epoch_us(ts), event_id "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for t, us, eid in rows:
        per[t].append((us, eid, 60_000_000 * (1 + eid % 5)))
    got = {
        r.event_type: r
        for r in QUERIES["q_queue_replay"](spark, SF_DIR).collect()
    }
    for t, xs in per.items():
        xs.sort()
        busy = xs[0][0] + xs[0][2]
        wait = waited = 0
        for us, _eid, svc in xs[1:]:
            if busy > us:
                wait += busy - us
                waited += 1
                busy += svc
            else:
                busy = us + svc
        r = got[t]
        assert (r.n_jobs, r.total_wait_us, r.n_waited) == (
            len(xs),
            wait,
            waited,
        )
        assert waited > 0, "fixture must create queueing"


def test_token_bucket_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, epoch_us(ts), event_id "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for uid, us, eid in rows:
        per[uid % 37].append((us, eid))
    got = {
        r.bucket_key: r
        for r in QUERIES["q_token_bucket"](spark, SF_DIR).collect()
    }
    any_throttled = False
    for uid, xs in per.items():
        xs.sort()
        tokens, last, admitted = 4000, xs[0][0], 1
        for us, _eid in xs[1:]:
            tokens = min(5000, tokens + (us - last) // 60_000_000)
            if tokens >= 1000:
                tokens -= 1000
                admitted += 1
            last = us
        r = got[uid]
        assert (r.n_events, r.n_admitted, r.tokens_left) == (
            len(xs),
            admitted,
            tokens,
        )
        any_throttled |= admitted < len(xs)
    assert any_throttled, "fixture must actually throttle someone"


def test_ab_cuped_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, user_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    import math

    xs, ys, variants = [], [], []
    for eid, uid, v in rows:
        xs.append(math.floor(v))
        ys.append((uid + eid) % 7)
        variants.append(eid % 2)
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    theta = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    got = {
        r.variant: r for r in QUERIES["q_ab_cuped"](spark, SF_DIR).collect()
    }
    for v in (0, 1):
        vx = [x for x, vv in zip(xs, variants) if vv == v]
        vy = [y for y, vv in zip(ys, variants) if vv == v]
        r = got[v]
        assert r.n_v == len(vx)
        assert r.theta == pytest.approx(theta, rel=1e-12)
        assert r.mean_y == pytest.approx(sum(vy) / len(vy), rel=1e-12)
        adj = sum(vy) / len(vy) - theta * (
            sum(vx) / len(vx) - sx / n
        )
        assert r.mean_y_cuped == pytest.approx(adj, rel=1e-10)


def test_winnowing_witness(spark, duck):
    import re as _re

    docs = duck.sql(
        f"SELECT doc_id, source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    per = collections.defaultdict(lambda: [0, 0, 0, set()])
    for _did, src, text in docs:
        toks = [
            t
            for t in _re.sub(r"[^a-zA-Z0-9 ]", " ", text).lower().split(" ")
            if t
        ]
        hs = [
            int(
                hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[
                    :12
                ],
                16,
            )
            for i in range(len(toks) - 2)
        ]
        if len(hs) >= 4:
            fps = {min(hs[i : i + 4]) for i in range(len(hs) - 3)}
        elif hs:
            fps = {min(hs)}
        else:
            fps = set()
        st = per[src]
        st[0] += 1
        st[1] += len(hs)
        st[2] += len(fps)
        st[3] |= fps
    got = {
        r.source: (r.n_docs, r.n_grams, r.n_fingerprints, r.n_distinct_fps)
        for r in QUERIES["q_winnowing"](spark, SF_DIR).collect()
    }
    assert got == {
        s: (v[0], v[1], v[2], len(v[3])) for s, v in per.items()
    }
    # winnowing compresses: far fewer fingerprints than grams
    for s, (nd, ng, nf, _) in got.items():
        assert nf < ng / 2
