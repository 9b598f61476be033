"""Pure-Python witnesses for the 27 round-10-staged queries (promoted
to plans/catalog.py in round 11) at sf0.001 — independent
recomputation, the third leg next to the Spark build and the DuckDB
oracle, written at staging time so
promotion to the catalog is a move, not a build."""

from __future__ import annotations

import collections
import math


from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR


def test_group_lcp_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, event_id, strftime(ts, '%Y-%m-%d') "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for et, eid, day in rows:
        per[et].append(f"s3://logs/{et}/dt={day}/part-{eid:08d}.gz")
    exp = {}
    for et, paths in per.items():
        lcp = paths[0]
        for p in paths[1:]:
            while not p.startswith(lcp):
                lcp = lcp[:-1]
        exp[et] = (len(paths), len(lcp), lcp)
    got = {r.event_type: (r.n_paths, r.lcp_len, r.lcp)
           for r in QUERIES["q_group_lcp"](spark, SF_DIR).collect()}
    assert got == exp
    # substance: the shared prefix extends past the constant scheme
    # into real data (the per-type segment), but never to a whole path
    # (full paths are ≥ 45 chars: scheme + type + dt= + part-XXXXXXXX.gz)
    assert all(len("s3://logs/") < l < 45 for (_n, l, _p) in exp.values())


def test_ema_crossover_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 32 "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    counts = collections.Counter(rows)
    users = {u for u, _b in rows}
    exp = {}
    for u in users:
        xs = [float(counts.get((u, b), 0)) for b in range(32)]
        f = s = xs[0]
        signs = [0 if f == s else (1 if f > s else -1)]
        for x in xs[1:]:
            f = 0.5 * x + 0.5 * f
            s = 0.125 * x + 0.875 * s
            signs.append(1 if f > s else (-1 if f < s else 0))
        n_cross = sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        n_up = sum(1 for a, b in zip(signs, signs[1:]) if b > a)
        exp[u] = (n_cross, n_up, f, s)
    got = {r.user_id: (r.n_cross, r.n_up, r.final_fast, r.final_slow)
           for r in QUERIES["q_ema_crossover"](
               spark, SF_DIR).collect()}
    assert set(got) == set(exp)
    for u, (nc, nu, ff, fs) in exp.items():
        gc, gu, gf, gs = got[u]
        assert (gc, gu) == (nc, nu)
        assert gf == ff and gs == fs  # bit-exact dyadic folds
    # substance: the fast EMA actually crosses the slow one
    assert any(nc > 0 for nc, _u, _f, _s in exp.values())


def test_histogram_equalize_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    hist = collections.Counter(
        (et, int(math.floor(v)) % 256) for et, v in rows)
    per = collections.defaultdict(dict)
    for (et, pix), n in hist.items():
        per[et][pix] = n
    exp = {}
    for et, h in per.items():
        total = sum(h.values())
        cdf = 0
        cdf_min = h[min(h)]
        for pix in sorted(h):
            cdf += h[pix]
            remap = ((cdf - cdf_min) * 255 // (total - cdf_min)
                     if total > cdf_min else 0)
            exp[(et, pix)] = (h[pix], cdf, remap)
    got = {(r.event_type, r.pix): (r.n, r.cdf, r.remap)
           for r in QUERIES["q_histogram_equalize"](
               spark, SF_DIR).collect()}
    assert got == exp
    # substance: the remap actually spreads (monotone, hits 255 at top)
    for et, h in per.items():
        assert exp[(et, max(h))][2] == 255


def test_ratio_delta_method_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, user_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for eid, uid, v in rows:
        per[eid % 2].append((1 + uid % 7, int(math.floor(v)) % 5))
    got = {r.variant: (r.n, r.ratio, r.se)
           for r in QUERIES["q_ratio_delta_method"](
               spark, SF_DIR).collect()}
    assert set(got) == set(per)
    for var, xy in per.items():
        n = len(xy)
        sx = sum(x for x, _y in xy)
        sy = sum(y for _x, y in xy)
        r = sy / sx
        vx = (n * sum(x * x for x, _y in xy) - sx * sx) / (n * (n - 1))
        vy = (n * sum(y * y for _x, y in xy) - sy * sy) / (n * (n - 1))
        cxy = (n * sum(x * y for x, y in xy) - sx * sy) / (n * (n - 1))
        xbar = sx / n
        se = math.sqrt((vy - 2.0 * r * cxy + r * r * vx)
                       / (n * xbar * xbar))
        gn, gr, gse = got[var]
        assert gn == n
        assert abs(gr - r) < 1e-12
        assert abs(gse - se) < 1e-12
        # delta-method SE must be positive and small vs the ratio
        assert 0 < gse < gr


def test_h_index_witness(spark, duck):
    docs = duck.sql(
        f"SELECT source, doc_id, n_chars FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for src, did, n in docs:
        per[src].append((-(n // 100), did))
    exp = {}
    for src, cs in per.items():
        cs.sort()
        h = 0
        for rn, (negc, _did) in enumerate(cs, start=1):
            if -negc >= rn:
                h = rn
        exp[src] = (len(cs), h)
    got = {r.source: (r.n_docs, r.h_index)
           for r in QUERIES["q_h_index"](spark, SF_DIR).collect()}
    assert got == exp
    # substance: h is interior (neither 0 nor the full doc count)
    assert all(0 < h < n for n, h in exp.values())


def test_linear_interpolate_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, "
        f"(CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 32 "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    counts = collections.Counter(rows)
    types = {t for t, _b in rows}
    exp = {}
    for t in types:
        xs = [counts.get((t, b), 0) for b in range(32)]
        knots = [b for b in range(32) if xs[b] % 3 != 0]
        for b in range(32):
            if xs[b] % 3 == 0:
                lo = max((k for k in knots if k < b), default=None)
                hi = min((k for k in knots if k > b), default=None)
                if lo is not None and hi is not None:
                    frac = (b - lo) / (hi - lo)
                    exp[(t, b)] = (xs[b],
                                   xs[lo] + (xs[hi] - xs[lo]) * frac)
    got = {(r.event_type, r.b): (r.observed, r.interp)
           for r in QUERIES["q_linear_interpolate"](
               spark, SF_DIR).collect()}
    assert got == exp
    # substance: real gaps got repaired with non-flat lines
    assert any(ob != ip for ob, ip in exp.values())
    assert len(exp) > 0


def test_csv_sniff_witness(spark, duck):
    docs = duck.sql(
        f"SELECT source, text, n_chars, lang FROM "
        f"'{SF_DIR}/documents.parquet'"
    ).fetchall()
    import re
    delims = [",", ";", "|", "#"]
    per = collections.defaultdict(list)
    for src, text, n, lang in docs:
        d = delims[int(src[3:]) % 4]
        f1 = re.sub("[^a-z]", "", text[:12].lower())
        per[src].append((d, f"{f1}{d}{n}{d}{lang}"))
    exp = {}
    for src, lines in per.items():
        planted = lines[0][0]
        detected = None
        fields = None
        for c in delims:
            ks = {l.count(c) for _d, l in lines}
            if len(ks) == 1 and min(ks) >= 1:
                k = ks.pop()
                if detected is None or c > detected:
                    detected, fields = c, k + 1
        exp[src] = (detected, fields, len(lines))
        assert detected == planted  # the sniffer must recover the plant
    got = {r.source: (r.delim, r.n_fields, r.n_lines)
           for r in QUERIES["q_csv_sniff"](spark, SF_DIR).collect()}
    assert got == exp


def test_outlier_iqr_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, event_id, value FROM "
        f"'{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(list)
    for et, eid, v in rows:
        per[et].append((int(math.floor(v)), eid))
    got = {r.event_type: r for r in QUERIES["q_outlier_iqr"](
        spark, SF_DIR).collect()}
    assert set(got) == set(per)
    for et, xs in per.items():
        xs.sort()
        vals = [x for x, _e in xs]
        n = len(vals)

        def q7(p):
            h = (n - 1) * p
            lo = h // 100
            frac = (h % 100) / 100
            hi = min(lo + 1, n - 1)
            return vals[lo] + frac * (vals[hi] - vals[lo])

        q1, q3 = q7(25), q7(75)
        lo_f, hi_f = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        n_out = sum(1 for v in vals if v < lo_f or v > hi_f)
        r = got[et]
        assert abs(r.q1 - q1) < 1e-9 and abs(r.q3 - q3) < 1e-9
        assert abs(r.lo_fence - lo_f) < 1e-9
        assert abs(r.hi_fence - hi_f) < 1e-9
        assert (r.n, r.n_outliers) == (n, n_out)


def test_readability_witness(spark, duck):
    import re
    docs = duck.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, 0, 0, 0])
    for src, text in docs:
        words = len([t for t in re.sub("[^a-zA-Z ]", " ", text)
                    .lower().split(" ") if t])
        sents = max(len(re.findall(r"[.!?]+", text)), 1)
        syls = len(re.findall(r"[aeiouy]+", text.lower()))
        a = agg[src]
        a[0] += 1
        a[1] += words
        a[2] += sents
        a[3] += syls
    got = {r.source: r for r in QUERIES["q_readability"](
        spark, SF_DIR).collect()}
    assert set(got) == set(agg)
    for src, (nd, w, s, sy) in agg.items():
        r = got[src]
        assert (r.n_docs, r.words, r.sents, r.syls) == (nd, w, s, sy)
        fk = 0.39 * (w / s) + 11.8 * (sy / w) - 15.59
        assert abs(r.fk_grade - fk) < 1e-9
    # substance: grades land in a plausible human band, not degenerate
    grades = [r.fk_grade for r in got.values()]
    assert min(grades) > -15 and max(grades) < 60


def test_forecast_backtest_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, "
        f"(CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 32 "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    counts = collections.Counter(rows)
    types = {t for t, _b in rows}
    exp = {}
    for t in types:
        xs = [counts.get((t, b), 0) for b in range(32)]
        e_n = [abs(xs[b] - xs[b - 1]) for b in range(24, 32)]
        e_s = [abs(xs[b] - xs[b - 24]) for b in range(24, 32)]
        winner = ("seasonal" if sum(e_s) < sum(e_n)
                  else ("naive" if sum(e_n) < sum(e_s) else "tie"))
        exp[t] = (len(e_n), sum(e_n), sum(e_s),
                  sum(e_n) / len(e_n), sum(e_s) / len(e_s), winner)
    got = {r.event_type:
           (r.n_evals, r.ae_naive, r.ae_snaive, r.mae_naive,
            r.mae_snaive, r.winner)
           for r in QUERIES["q_forecast_backtest"](
               spark, SF_DIR).collect()}
    assert got == exp


def test_ua_parse_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, user_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, 10**9, -1])
    for eid, uid in rows:
        os_ = ["windows", "macos", "linux"][uid % 3]
        fam = eid % 3
        browser = ["chrome", "firefox", "safari"][fam]
        major = [100 + eid % 30, 90 + eid % 40, 14 + eid % 4][fam]
        a = agg[(browser, os_)]
        a[0] += 1
        a[1] = min(a[1], major)
        a[2] = max(a[2], major)
    got = {(r.browser, r.os): (r.n, r.min_major, r.max_major)
           for r in QUERIES["q_ua_parse"](spark, SF_DIR).collect()}
    assert got == {k: tuple(v) for k, v in agg.items()}
    # substance: the full 3x3 family/os grid is populated
    assert len(got) == 9


def test_modularity_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    edges = set()
    for uid, eid in rows:
        a, b = uid % 41, (2 * uid + eid) % 41
        if a != b:
            edges.add((min(a, b), max(a, b)))
    m = len(edges)
    e_c = collections.Counter()
    d_c = collections.Counter()
    for a, b in edges:
        if a % 4 == b % 4:
            e_c[a % 4] += 1
        d_c[a % 4] += 1
        d_c[b % 4] += 1
    got = {r.community: (r.e_c, r.d_c, r.q_contrib)
           for r in QUERIES["q_modularity"](
               spark, SF_DIR).collect()}
    assert set(got) == set(d_c)
    q_total = 0.0
    for c in d_c:
        ge, gd, gq = got[c]
        assert (ge, gd) == (e_c[c], d_c[c])
        expect = (4 * m * e_c[c] - d_c[c] ** 2) / (4 * m * m)
        assert abs(gq - expect) < 1e-12
        q_total += gq
    # substance: modularity is a valid score, not degenerate
    assert -0.5 <= q_total <= 1.0
    assert sum(d_c.values()) == 2 * m  # handshake identity


def test_table_checksum_witness(spark, duck):
    import hashlib
    rows = duck.sql(
        f"SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, "
        f"l_partkey, l_quantity FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for rf, ls, ok, ln, pk, q in rows:
        s = f"{ok}|{ln}|{pk}|{int(math.floor(q))}"
        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        a = agg[(rf, ls)]
        a[0] += 1
        a[1] ^= h
        a[2] += h % 1000003
    got = {(r.l_returnflag, r.l_linestatus):
           (r.n, r.xor_sum, r.mod_sum)
           for r in QUERIES["q_table_checksum"](
               spark, SF_DIR).collect()}
    assert got == {k: tuple(v) for k, v in agg.items()}
    # substance: a single-row perturbation flips the checksum
    (k0, (n0, x0, m0)) = next(iter(agg.items()))
    assert x0 != 0 and m0 > 0


def test_er_score_witness(spark, duck):
    rows = duck.sql(
        f"SELECT p_partkey, p_brand, p_size, p_name, p_type "
        f"FROM '{SF_DIR}/part.parquet'"
    ).fetchall()
    blocks = collections.defaultdict(list)
    for pk, br, sz, name, typ in rows:
        blocks[name.split(" ")[1]].append(
            (pk, br, sz, typ.split(" ")[0]))
    agg = collections.defaultdict(lambda: [0, 0])
    for noun, items in blocks.items():
        items.sort()
        for i in range(len(items)):
            for j in range(i + 1, len(items)):
                pa, ba, sa, ta = items[i]
                pb, bb, sb, tb = items[j]
                score = ((3 if ba == bb else 0)
                         + (2 if ta == tb else 0)
                         + (1 if abs(sa - sb) <= 2 else 0))
                verdict = ("match" if score >= 5
                           else "possible" if score >= 3 else "non_match")
                agg[verdict][0] += 1
                agg[verdict][1] += score
    got = {r.verdict: (r.n_pairs, r.score_sum, r.avg_score)
           for r in QUERIES["q_er_score"](spark, SF_DIR).collect()}
    assert set(got) == set(agg)
    for v, (n, s) in agg.items():
        gn, gs, ga = got[v]
        assert (gn, gs) == (n, s)
        assert abs(ga - s / n) < 1e-12
    # substance: all three verdict classes occur
    assert set(agg) == {"match", "possible", "non_match"}


def test_flow_stitch_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, 0, 0, 0])
    for uid, eid, v in rows:
        src, dst = uid % 50, (uid * 7 + eid) % 50
        if src == dst:
            continue
        byt = int(math.floor(v))
        k = (min(src, dst), max(src, dst))
        a = agg[k]
        if src < dst:
            a[0] += 1
            a[2] += byt
        else:
            a[1] += 1
            a[3] += byt
    got = {(r.lo, r.hi):
           (r.n_fwd, r.n_rev, r.bytes_fwd, r.bytes_rev, r.bidirectional)
           for r in QUERIES["q_flow_stitch"](
               spark, SF_DIR).collect()}
    exp = {k: (nf, nr, bf, br, 1 if (nf > 0 and nr > 0) else 0)
           for k, (nf, nr, bf, br) in agg.items()}
    assert got == exp
    # substance: stitching found both paired and one-sided flows
    flags = {v[4] for v in exp.values()}
    assert flags == {0, 1}


def test_feature_hash_audit_witness(spark, duck):
    import hashlib
    import re
    docs = duck.sql(
        f"SELECT text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    toks = set()
    for (text,) in docs:
        ws = [t for t in re.sub("[^a-zA-Z0-9 ]", " ", text)
              .lower().split(" ") if t]
        toks |= {f"{a} {b}" for a, b in zip(ws, ws[1:])}
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
          for t in toks]
    got = {r.n_buckets: (r.n_features, r.n_used_buckets, r.n_collisions)
           for r in QUERIES["q_feature_hash_audit"](
               spark, SF_DIR).collect()}
    for nb in (256, 1024, 4096):
        used = len({h % nb for h in hs})
        assert got[nb] == (len(hs), used, len(hs) - used)
    # substance: collisions shrink as width grows, and the narrow
    # width genuinely collides
    assert got[256][2] > got[4096][2] >= 0
    assert got[256][2] > 0


def test_revenue_recognition_witness(spark, duck):
    rows = duck.sql(
        f"SELECT o_orderkey, o_totalprice, "
        f"strftime(date_trunc('month', o_orderdate), '%Y-%m-01') "
        f"FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    import datetime
    agg = collections.defaultdict(lambda: [0, 0])
    for ok, tp, m0 in rows:
        cents = int(math.floor(tp * 100))
        np_ = 1 + ok % 4
        base = datetime.date.fromisoformat(m0)
        for k in range(np_):
            y, m = divmod(base.month - 1 + k, 12)
            period = f"{base.year + y}-{m + 1:02d}"
            slice_ = cents // np_ + (1 if k < cents % np_ else 0)
            a = agg[period]
            a[0] += 1
            a[1] += slice_
        # invariant: slices reassemble the exact total
        assert sum(cents // np_ + (1 if k < cents % np_ else 0)
                   for k in range(np_)) == cents
    got = {r.period: (r.n_slices, r.recognized_cents)
           for r in QUERIES["q_revenue_recognition"](
               spark, SF_DIR).collect()}
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_diff_in_diff_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, event_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    cells = collections.defaultdict(lambda: [0, 0])
    for uid, eid, v in rows:
        c = cells[(uid % 2, 1 if eid % 3 == 0 else 0)]
        c[0] += 1
        c[1] += int(math.floor(v))
    m = {k: s / n for k, (n, s) in cells.items()}
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    got = QUERIES["q_diff_in_diff"](spark, SF_DIR).collect()
    assert len(got) == 4
    for r in got:
        n, s = cells[(r.treated, r.post)]
        assert (r.n, r.sy) == (n, s)
        assert abs(r.mean_y - s / n) < 1e-12
        assert abs(r.did_estimate - did) < 1e-12


def test_grid_hotspot_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_id, user_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    cells = collections.Counter()
    for eid, uid, v in rows:
        cells[(eid % 40, uid % 25)] += int(math.floor(v))
    n = len(cells)
    sv = sum(cells.values())
    svv = sum(v * v for v in cells.values())
    mean = sv / n
    var = (n * svv - sv * sv) / (n * (n - 1))
    local = collections.defaultdict(lambda: [0, 0])
    for (x, y), v in cells.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                tx, ty = x + dx, y + dy
                if 0 <= tx <= 39 and 0 <= ty <= 24:
                    a = local[(tx, ty)]
                    a[0] += v
                    a[1] += 1
    exp = {}
    for key, (lsum, k) in local.items():
        z = (lsum - k * mean) / math.sqrt(k * var)
        if z > 2.0:
            exp[key] = (lsum, k, z)
    got = {(r.x, r.y): (r.lsum, r.k, r.z)
           for r in QUERIES["q_grid_hotspot"](
               spark, SF_DIR).collect()}
    assert set(got) == set(exp)
    for key, (ls, k, z) in exp.items():
        gl, gk, gz = got[key]
        assert (gl, gk) == (ls, k)
        assert abs(gz - z) < 1e-9
    # substance: hotspots exist but are a small minority of cells
    assert 0 < len(exp) < n // 4


def test_reconciliation_witness(spark, duck):
    orders = duck.sql(
        f"SELECT o_orderkey, o_totalprice FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    lines = duck.sql(
        f"SELECT l_orderkey, l_extendedprice FROM "
        f"'{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    rolled = collections.Counter()
    for ok, ep in lines:
        rolled[ok] += int(math.floor(ep * 100))
    agg = collections.defaultdict(lambda: [0, 0, 0, 0])
    for ok, tp in orders:
        oc = int(math.floor(tp * 100))
        if ok not in rolled:
            st, lc = "no_lines", 0
        else:
            lc = rolled[ok]
            st = "within_1pct" if abs(oc - lc) * 100 <= oc else "mismatch"
        a = agg[st]
        a[0] += 1
        a[1] += oc
        a[2] += lc
        a[3] += abs(oc - lc)
    got = {r.status: (r.n_orders, r.order_cents, r.line_cents,
                      r.abs_gap_cents)
           for r in QUERIES["q_reconciliation"](
               spark, SF_DIR).collect()}
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_sampling_temperature_witness(spark, duck):
    rows = duck.sql(
        f"SELECT source, COUNT(*) FROM '{SF_DIR}/documents.parquet' "
        f"GROUP BY source"
    ).fetchall()
    wq = {src: int(math.floor(math.sqrt(n) * 1000000))
          for src, n in rows}
    ntot = sum(n for _s, n in rows)
    wtot = sum(wq.values())
    got = {r.source: (r.n, r.w_q, r.share, r.alloc_10k, r.boost)
           for r in QUERIES["q_sampling_temperature"](
               spark, SF_DIR).collect()}
    for src, n in rows:
        gn, gw, gs, ga, gb = got[src]
        assert (gn, gw) == (n, wq[src])
        assert gs == wq[src] / wtot
        assert ga == wq[src] * 10000 // wtot
        assert abs(gb - (wq[src] / wtot) / (n / ntot)) < 1e-12
    # substance (equal-sized sources at sf0.001): boost ≡ 1 and the
    # allocation is near-uniform — the rule degrades to proportional
    # exactly when sizes are equal, which the closed form must show
    assert all(abs(b - 1.0) < 1e-9 for *_a, b in got.values())


def test_crdt_gcounter_witness(spark, duck):
    import random
    rows = duck.sql(
        f"SELECT user_id, event_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    snapshots = [((uid % 20), (eid % 3), int(math.floor(v)))
                 for uid, eid, v in rows]
    # CRDT property: merge in three different orders -> same state
    states = []
    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        shuffled = snapshots[:]
        rnd.shuffle(shuffled)
        st = {}
        for k, r, obs in shuffled:
            st[(k, r)] = max(st.get((k, r), 0), obs)
        states.append(st)
    assert states[0] == states[1] == states[2]
    merged = collections.defaultdict(lambda: [0, 0, 0])
    for (k, r), v in states[0].items():
        a = merged[k]
        a[0] += 1
        a[1] += v
        a[2] = max(a[2], v)
    got = {r.key: (r.n_replicas, r.merged_total, r.max_replica)
           for r in QUERIES["q_crdt_gcounter"](
               spark, SF_DIR).collect()}
    assert got == {k: tuple(v) for k, v in merged.items()}


def test_span_f1_witness(spark, duck):
    docs = duck.sql(
        f"SELECT source, doc_id FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, 0])
    for src, did in docs:
        a = agg[src]
        a[1] += 2  # two gold spans per doc
        a[0] += 1 if did % 3 == 1 else 0  # span 1 exact iff drift == 0
        a[0] += 1  # span 2 always exact
    got = {r.source: (r.tp, r.n_gold, r.precision_, r.f1)
           for r in QUERIES["q_span_f1"](spark, SF_DIR).collect()}
    assert set(got) == set(agg)
    for src, (tp, n) in agg.items():
        gtp, gn, gp, gf1 = got[src]
        assert (gtp, gn) == (tp, n)
        p = tp / n
        assert abs(gp - p) < 1e-12
        assert abs(gf1 - p) < 1e-12  # P == R here => F1 == P
    # substance: the drift error actually costs score somewhere
    assert any(tp < n for tp, n in agg.values())


def test_encoding_advisor_witness(spark, duck):
    import hashlib
    rows = duck.sql(
        f"SELECT event_id, event_type, user_id, value, "
        f"strftime(ts, '%Y-%m-%d') FROM "
        f"'{SF_DIR}/events.parquet' ORDER BY event_id"
    ).fetchall()
    series = {
        "event_type": [et for _e, et, _u, _v, _d in rows],
        "user_id": [str(u) for _e, _et, u, _v, _d in rows],
        "value_i": [str(int(math.floor(v)))
                    for _e, _et, _u, v, _d in rows],
        "day": [d for _e, _et, _u, _v, d in rows],
        "row_hash": [hashlib.md5(str(e).encode()).hexdigest()
                     for e, _et, _u, _v, _d in rows],
    }
    got = {r.col: r for r in QUERIES["q_encoding_advisor"](
        spark, SF_DIR).collect()}
    for col, vs in series.items():
        n = len(vs)
        nd = len(set(vs))
        runs = 1 + sum(1 for a, b in zip(vs, vs[1:]) if a != b)
        plain = sum(len(v) for v in vs)
        rle_b = 0
        prev = None
        for v in vs:
            if v != prev:
                rle_b += len(v) + 4
                prev = v
        bits = (nd - 1).bit_length()
        dict_b = sum(len(v) for v in set(vs)) + (n * bits + 7) // 8
        r = got[col]
        assert (r.n, r.n_distinct, r.n_runs) == (n, nd, runs)
        assert (r.bytes_plain, r.bytes_rle, r.bytes_dict) == (
            plain, rle_b, dict_b)
        advice = ("rle" if rle_b <= plain and rle_b <= dict_b
                  else "dict" if dict_b <= plain else "plain")
        assert r.advice == advice
    # substance: the chooser exercises ALL THREE branches across the
    # five profiled columns
    assert {r.advice for r in got.values()} == {"plain", "dict", "rle"}


def test_merkle_levels_witness(spark, duck):
    import hashlib
    rows = duck.sql(
        f"SELECT l_orderkey, l_linenumber, l_partkey FROM "
        f"'{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    l0 = collections.defaultdict(list)
    for ok, ln, pk in rows:
        l0[ok // 64].append(
            hashlib.md5(f"{ok}|{ln}|{pk}".encode()).hexdigest())
    l1 = {b: (hashlib.md5("".join(sorted(hs)).encode()).hexdigest(),
              len(hs))
          for b, hs in l0.items()}
    l2g = collections.defaultdict(list)
    for b, (h, _n) in l1.items():
        l2g[b // 16].append(h)
    l2 = {b: (hashlib.md5("".join(sorted(hs)).encode()).hexdigest(),
              len(hs))
          for b, hs in l2g.items()}
    got = {(r.level, r.node): (r.h, r.n_children)
           for r in QUERIES["q_merkle_levels"](
               spark, SF_DIR).collect()}
    exp = {(1, b): v for b, v in l1.items()}
    exp |= {(2, b): v for b, v in l2.items()}
    assert got == exp
    # substance: the tree actually narrows (fan-in at both levels)
    assert len(l2) < len(l1) < len(rows)


def test_mix_rate_decomposition_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, event_id, value FROM "
        f"'{SF_DIR}/events.parquet'"
    ).fetchall()
    cells = collections.defaultdict(lambda: [0, 0])
    for et, eid, v in rows:
        c = cells[(et, eid % 2)]
        c[0] += 1
        c[1] += 1 if int(math.floor(v)) % 4 == 0 else 0
    np0 = sum(n for (et, p), (n, _c) in cells.items() if p == 0)
    np1 = sum(n for (et, p), (n, _c) in cells.items() if p == 1)
    got = {r.seg: r for r in QUERIES["q_mix_rate_decomposition"](
        spark, SF_DIR).collect()}
    total_effect = 0.0
    for seg in {et for (et, _p) in cells}:
        n0, c0 = cells[(seg, 0)]
        n1, c1 = cells[(seg, 1)]
        s0, s1 = n0 / np0, n1 / np1
        r0, r1 = c0 / n0, c1 / n1
        r = got[seg]
        assert (r.n0, r.n1, r.conv0, r.conv1) == (n0, n1, c0, c1)
        assert abs(r.mix_effect - (s1 - s0) * r0) < 1e-12
        assert abs(r.rate_effect - s0 * (r1 - r0)) < 1e-12
        assert abs(r.interaction - (s1 - s0) * (r1 - r0)) < 1e-12
        total_effect += r.mix_effect + r.rate_effect + r.interaction
    # the accounting identity: segment effects sum to the overall ΔR
    R0 = sum(c for (et, p), (n, c) in cells.items() if p == 0) / np0
    R1 = sum(c for (et, p), (n, c) in cells.items() if p == 1) / np1
    assert abs(total_effect - (R1 - R0)) < 1e-9


def test_t_closeness_witness(spark, duck):
    rows = duck.sql(
        f"SELECT user_id, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    per = collections.defaultdict(lambda: [0] * 8)
    glob = [0] * 8
    for uid, v in rows:
        a = int(math.floor(v)) % 8
        per[uid % 10][a] += 1
        glob[a] += 1
    n_all = sum(glob)
    got = {r.grp: (r.n_g, r.emd_num, r.emd, r.t_ok)
           for r in QUERIES["q_t_closeness"](
               spark, SF_DIR).collect()}
    assert set(got) == set(per)
    for g, hist in per.items():
        n_g = sum(hist)
        cg = ca = 0
        num = 0
        for j in range(8):
            cg += hist[j]
            ca += glob[j]
            num += abs(cg * n_all - ca * n_g)
        emd = num / (n_g * n_all * 7)
        gn, gnum, gemd, gok = got[g]
        assert (gn, gnum) == (n_g, num)
        assert abs(gemd - emd) < 1e-12
        assert gok == (1 if emd <= 0.25 else 0)
        # EMD is a proper normalized distance
        assert 0.0 <= emd <= 1.0


def test_conformal_interval_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, event_id, value FROM "
        f"'{SF_DIR}/events.parquet'"
    ).fetchall()
    cal = collections.defaultdict(list)
    test = collections.defaultdict(list)
    for et, eid, v in rows:
        (cal if eid % 2 == 0 else test)[et].append(
            (int(math.floor(v)), eid))
    got = {r.event_type: r for r in QUERIES["q_conformal_interval"](
        spark, SF_DIR).collect()}
    for et, xs in cal.items():
        n = len(xs)
        sx = sum(x for x, _e in xs)
        resid = sorted((abs(x * n - sx), e) for x, e in xs)
        k = min(math.ceil(0.9 * (n + 1)), n)
        q_num = resid[k - 1][0]
        covered = sum(1 for x, _e in test[et]
                      if abs(x * n - sx) <= q_num)
        r = got[et]
        assert (r.n_cal, r.n_test, r.q_num) == (n, len(test[et]), q_num)
        assert abs(r.coverage - covered / len(test[et])) < 1e-12
        # the conformal guarantee: coverage concentrates near 90%
        assert 0.80 <= r.coverage <= 1.0


def test_apdex_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, value FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for et, v in rows:
        p = int(math.floor(v))
        a = agg[et]
        if p <= 100:
            a[0] += 1
        elif p <= 300:
            a[1] += 1
        else:
            a[2] += 1
    got = {r.event_type: r for r in QUERIES["q_apdex"](
        spark, SF_DIR).collect()}
    for et, (s, t, f) in agg.items():
        r = got[et]
        n = s + t + f
        assert (r.n, r.n_satisfied, r.n_tolerating, r.n_frustrated) == (
            n, s, t, f)
        assert abs(r.apdex - (s + t / 2.0) / n) < 1e-12
        assert 0.0 <= r.apdex <= 1.0
    # substance: all three buckets are populated somewhere
    assert any(a[2] > 0 for a in agg.values())


def test_backfill_plan_witness(spark, duck):
    rows = duck.sql(
        f"SELECT event_type, "
        f"CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    import datetime
    per = collections.defaultdict(set)
    for et, h in rows:
        per[et].add(h)
    exp = set()
    for et, hs in per.items():
        lo, hi = min(hs), max(hs)
        missing = sorted(set(range(lo, hi + 1)) - hs)
        i = 0
        while i < len(missing):
            j = i
            while j + 1 < len(missing) and missing[j + 1] == missing[j] + 1:
                j += 1
            fmt = "%Y-%m-%d %H:%M:%S"
            exp.add((
                et,
                datetime.datetime.fromtimestamp(
                    missing[i] * 3600, datetime.UTC).strftime(fmt),
                datetime.datetime.fromtimestamp(
                    missing[j] * 3600, datetime.UTC).strftime(fmt),
                j - i + 1,
            ))
            i = j + 1
    got = {(r.event_type, r.gap_start, r.gap_end, r.n_hours)
           for r in QUERIES["q_backfill_plan"](
               spark, SF_DIR).collect()}
    assert got == exp
    # substance: there are real gaps to backfill, and they merge
    assert len(exp) > 0
    assert any(n > 1 for _t, _s, _e, n in exp)
