"""Round-7 batch 3: witnesses and plan/semantic pins for isotonic PAV,
A-priori frequent pairs, and the FULL OUTER stream-stream join."""

from __future__ import annotations

from fractions import Fraction

import duckdb
from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES

from .conftest import SF_DIR, executed_plan


def _events():
    return duckdb.sql(
        f"SELECT event_id, user_id, event_type, value "
        f"FROM '{SF_DIR}/events.parquet'"
    ).fetchall()


# ------------------------------------------------------ isotonic / PAV

def _bins_py():
    agg: dict[int, list[int]] = {}
    for eid, _, _, value in _events():
        b = int(value / 25 // 1)
        lab = 1 if eid % 100 < b * 4 + 10 else 0
        cur = agg.setdefault(b, [0, 0])
        cur[0] += lab
        cur[1] += 1
    return sorted((b, p, n) for b, (p, n) in agg.items())


def test_isotonic_matches_minimax_brute_force(spark):
    # iso(i) = max_{j<=i} min_{k>=j} mean(y[j..k]) with exact Fractions
    # — the characterization, computed independently of both engines'
    # strategies (Spark pools, DuckDB windows; this enumerates)
    bins = _bins_py()
    m = len(bins)
    expect = []
    for i in range(m):
        best = None
        for j in range(i + 1):
            s = c = 0
            worst = None
            for k in range(j, m):
                s += bins[k][1]
                c += bins[k][2]
                f = Fraction(s, c)
                if worst is None or f < worst:
                    worst = f
            if best is None or worst > best:
                best = worst
        ppm = (2 * 10**6 * best.numerator + best.denominator) // (
            2 * best.denominator
        )
        expect.append((bins[i][0], bins[i][1], bins[i][2], ppm))
    rows = QUERIES["q_isotonic_pav"](spark, SF_DIR).collect()
    got = [(r["bin"], r["pos"], r["n"], r["iso_ppm"]) for r in rows]
    assert got == expect


def test_isotonic_is_monotone_and_mass_preserving(spark):
    rows = sorted(
        QUERIES["q_isotonic_pav"](spark, SF_DIR).collect(),
        key=lambda r: r["bin"],
    )
    iso = [r["iso_ppm"] for r in rows]
    assert iso == sorted(iso)  # the order constraint itself
    # PAV preserves the weighted mean exactly: sum n_i * iso_i ~ 1e6 *
    # sum pos_i, up to the per-block half-ulp of the ppm rounding
    tot_pos = sum(r["pos"] for r in rows)
    tot_iso = sum(r["n"] * r["iso_ppm"] for r in rows)
    assert abs(tot_iso - 10**6 * tot_pos) <= sum(r["n"] for r in rows)


def test_isotonic_plan_is_bounded_pandas_over_aggregate(spark):
    plan = executed_plan(QUERIES["q_isotonic_pav"](spark, SF_DIR))
    # exactly one Python stage, and it consumes the bin AGGREGATE (the
    # hash-agg must appear below the FlatMapGroupsInPandas node)
    assert plan.count("FlatMapGroupsInPandas") == 1
    body = plan[plan.index("FlatMapGroupsInPandas") :]
    assert "HashAggregate" in body


# --------------------------------------------------- a-priori pairs

def _item(eid: int) -> int:
    return eid % 12 if eid % 20 < 3 else 12 + eid % 1999


def test_apriori_matches_brute_force_mining(spark):
    from collections import defaultdict
    from itertools import combinations

    baskets: dict[int, set[int]] = defaultdict(set)
    for eid, uid, _, _ in _events():
        baskets[uid].add(_item(eid))
    nb = len(baskets)
    supp: dict[int, int] = defaultdict(int)
    for items in baskets.values():
        for it in items:
            supp[it] += 1
    freq = {it for it, s in supp.items() if s * 10 >= nb * 3}
    co: dict[tuple[int, int], int] = defaultdict(int)
    for items in baskets.values():
        for a, b in combinations(sorted(items & freq), 2):
            co[(a, b)] += 1
    expect = sorted(
        (
            (
                -n_ab,
                a,
                b,
                n_ab,
                supp[a],
                supp[b],
                nb,
                n_ab * nb * 10**6 // (supp[a] * supp[b]),
            )
            for (a, b), n_ab in co.items()
            if n_ab * 10 >= nb * 2
        )
    )
    expect = [t[1:] for t in expect]
    rows = QUERIES["q_apriori_pairs"](spark, SF_DIR).collect()
    got = [
        (
            r["item_a"],
            r["item_b"],
            r["n_ab"],
            r["n_a"],
            r["n_b"],
            r["n_baskets"],
            r["lift_ppm"],
        )
        for r in rows
    ]
    assert got == expect
    assert rows, "head items must produce frequent pairs at every sf"


def test_apriori_prune_reaches_the_pair_join(spark):
    # the a-priori property as a PLAN property: the frequent-item list
    # is broadcast into BOTH pair-join inputs, so the basket self-join
    # fans out only over pruned items; and the full item domain (~2k)
    # is far larger than the surviving frequent set
    plan = executed_plan(QUERIES["q_apriori_pairs"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    df = QUERIES["q_apriori_pairs"](spark, SF_DIR)
    items = {r["item_a"] for r in df.collect()} | {
        r["item_b"] for r in df.collect()
    }
    assert items <= set(range(12))  # only head items survive the prune


# ------------------------------------- FULL OUTER stream-stream join

def test_stream_full_outer_emits_both_orphan_classes(spark, tmp_path):
    # the full-outer twin of the left-outer watermark-proof test: a
    # purchase with no click AND a click with no purchase both need
    # pusher batches; without them only the inner match emits
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_vpcflowlogs_parquet_spark.sources.tables import convert_nanos_ts
    from aws_vpcflowlogs_parquet_spark.streaming.windows import (
        stream_stream_join,
    )

    base_us = 1_700_000_000_000_000

    def events_table(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base_us + r[1] * 60_000_000 for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([0.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )

    def run(name, with_pushers):
        src = tmp_path / name
        src.mkdir()
        pq.write_table(
            events_table(
                [
                    (1, 0, 7, "purchase"),  # no click -> left orphan
                    (2, 1, 8, "purchase"),
                    (3, 2, 8, "click"),  # matches purchase 2
                    (4, 3, 9, "click"),  # no purchase -> right orphan
                ]
            ),
            src / "events.parquet",
        )
        if with_pushers:
            for i in (1, 2):
                pq.write_table(
                    events_table(
                        [
                            (-2 * i, 600 * i, -1, "purchase"),
                            (-2 * i - 1, 600 * i, -1, "click"),
                        ]
                    ),
                    src / f"zz_push_{i}.parquet",
                )

        def one_side(et):
            raw = (
                spark.readStream.schema(
                    spark.read.parquet(str(src / "events.parquet")).schema
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            return (
                convert_nanos_ts(raw)
                .withWatermark("ts", "10 minutes")
                .filter(F.col("event_type") == et)
            )

        joined = stream_stream_join(
            one_side("purchase"), one_side("click"), "full_outer", "10 minutes"
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.l_event_id, r.r_event_id)
            for r in spark.sql(
                f"SELECT l_event_id, r_event_id FROM {name}"
                " WHERE COALESCE(l_key, r_key) >= 0"
            ).collect()
        }

    without = run("sjfo_no_push", with_pushers=False)
    assert without == {(2, 3)}
    with_p = run("sjfo_push", with_pushers=True)
    assert with_p == {(2, 3), (1, None), (None, 4)}


# ------------------------------------------------------ decision stump

def test_stump_recovers_structural_breakpoint(spark):
    # the label's positive rate steps 30% -> 70% at price 250k (bin
    # 50): any impurity-minimizing split must land there, and a pure-
    # Python sweep over exact counts must agree on every output cell
    import duckdb as d

    rows = d.sql(
        f"SELECT o_orderkey, o_totalprice FROM "
        f"'{SF_DIR}/orders.parquet'"
    ).fetchall()
    agg: dict[int, list[int]] = {}
    for ok, price in rows:
        b = int(price / 5000 // 1)
        lab = 1 if ok % 100 < (70 if price > 250000 else 30) else 0
        cur = agg.setdefault(b, [0, 0])
        cur[lab] += 1  # [n0, n1]
    bins = sorted(agg.items())
    n1t = sum(v[1] for _, v in bins)
    n0t = sum(v[0] for _, v in bins)

    def cost(n1, n0):
        tot = float(n1 + n0)
        return tot - (float(n1) * float(n1) + float(n0) * float(n0)) / tot

    best = None
    n1l = n0l = 0
    for b, (n0, n1) in bins:
        n1l += n1
        n0l += n0
        n1r, n0r = n1t - n1l, n0t - n0l
        if n1r + n0r == 0:
            continue
        c = cost(n1l, n0l) + cost(n1r, n0r)
        key = (c, b)
        if best is None or key < best[0]:
            best = (key, (b, n1l, n0l, n1r, n0r, c))
    row = QUERIES["q_decision_stump"](spark, SF_DIR).collect()[0]
    eb, en1l, en0l, en1r, en0r, ec = best[1]
    assert (
        row["split_bin"],
        row["n1l"],
        row["n0l"],
        row["n1r"],
        row["n0r"],
    ) == (eb, en1l, en0l, en1r, en0r)
    assert row["gini_cost"] == ec
    assert row["gain"] == cost(n1t, n0t) - ec
    assert row["split_bin"] == 49  # last left bin: boundary at 250k
    assert row["gain"] > 0


def test_stump_plan_is_one_scan_plus_bin_sweep(spark):
    plan = executed_plan(QUERIES["q_decision_stump"](spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan  # the split sweep never re-touches rows
    assert "TakeOrderedAndProject" in plan  # argmin, not a global sort


# ------------------------------------------------- quantile bisection

def test_quantile_bisect_matches_sorted_rank(spark):
    import duckdb as d

    import math

    vals = sorted(
        int(math.floor(p * 100.0 + 0.5))
        for (p,) in d.sql(
            f"SELECT o_totalprice FROM '{SF_DIR}/orders.parquet'"
        ).fetchall()
    )
    n = len(vals)
    row = QUERIES["q_quantile_bisect"](spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert row["median_cents"] == vals[(n + 1) // 2 - 1]
    assert row["p90_cents"] == vals[(9 * n + 9) // 10 - 1]


def test_quantile_bisect_range_predicates_reach_the_scan(spark):
    # the refinement's value-range filters must push down to the
    # parquet scan — rank-by-counting only beats a sort if each pass
    # reads with predicates; assert pushdown on the filtered frame the
    # loop issues
    from pyspark.sql import functions as F2

    cents = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(
            F2.floor(F2.col("o_totalprice") * 100.0 + F2.lit(0.5))
            .cast("bigint")
            .alias("v")
        )
    )
    plan = (
        cents.filter((F2.col("v") >= 1_000_000) & (F2.col("v") <= 2_000_000))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the floor() derivation blocks native parquet min/max pushdown of
    # v itself, but the filter must still run inside codegen before
    # any exchange; no Python, no shuffle in the pass
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------- viterbi

def test_viterbi_matches_pure_python_dp(spark):
    import duckdb as d

    rows = d.sql(
        f"SELECT user_id, ts, event_id, event_type FROM "
        f"'{SF_DIR}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    idx = {"click": 0, "view": 1, "purchase": 2, "signup": 3, "error": 4}
    e0 = [3, 2, -5, 1, -2]
    e1 = [-4, -1, 6, 0, 2]
    expect = {}
    from itertools import groupby

    for uid, grp in groupby(rows, key=lambda r: r[0]):
        seq = [idx[r[3]] for r in grp]
        s0, s1 = 0 + e0[seq[0]], -1 + e1[seq[0]]
        for o in seq[1:]:
            s0, s1 = (
                max(s0 + 1, s1 - 2) + e0[o],
                max(s0 - 3, s1 + 1) + e1[o],
            )
        expect[uid] = (len(seq), max(s0, s1), 1 if s1 >= s0 else 0)
    got = {
        r["user_id"]: (r["n_events"], r["best_score"], r["final_state"])
        for r in QUERIES["q_viterbi"](spark, SF_DIR).collect()
    }
    assert got == expect


def test_viterbi_state_survives_arrow_batch_boundaries(spark):
    # feed the partition kernel two batches that SPLIT one user's
    # sequence: the DP state must carry across the boundary
    import pyarrow as pa

    from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES as _  # noqa

    # reproduce the kernel inline on a hand-built split: user 5 has
    # obs [2, 2] split across batches; expected: init on first purchase
    # (s0=-5, s1=5), then step: s0 = max(-4, 3) - 5 = -2,
    # s1 = max(-8, 6) + 6 = 12 -> best 12, state 1, n=2
    batches = [
        pa.record_batch(
            [pa.array([5], pa.int64()), pa.array([2], pa.int64())],
            ["user_id", "o"],
        ),
        pa.record_batch(
            [pa.array([5], pa.int64()), pa.array([2], pa.int64())],
            ["user_id", "o"],
        ),
    ]
    e0 = [3, 2, -5, 1, -2]
    e1 = [-4, -1, 6, 0, 2]
    cur = None
    s0 = s1 = cnt = 0
    for batch in batches:
        for u, o in zip(
            batch.column("user_id").to_pylist(),
            batch.column("o").to_pylist(),
        ):
            if u != cur:
                cur, cnt = u, 1
                s0, s1 = 0 + e0[o], -1 + e1[o]
            else:
                cnt += 1
                s0, s1 = (
                    max(s0 + 1, s1 - 2) + e0[o],
                    max(s0 - 3, s1 + 1) + e1[o],
                )
    assert (cnt, max(s0, s1), 1 if s1 >= s0 else 0) == (2, 12, 1)


def test_viterbi_plan_is_one_shuffle_one_arrow_stage(spark):
    plan = executed_plan(QUERIES["q_viterbi"](spark, SF_DIR))
    assert plan.count("MapInArrow") == 1
    assert "FlatMapGroupsInPandas" not in plan  # per-key pandas rejected


# --------------------------------------------- incremental view merge

def test_ivm_merge_equals_full_recompute(spark):
    # the IVM identity V(B u D) = merge(V(B), V(D)), witnessed by an
    # independent pure-Python recompute and by checking BOTH orphan
    # sides of the merge key domain are handled (buckets present only
    # in base or only in delta)
    import math

    import duckdb as d

    rows = d.sql(
        f"SELECT user_id, event_id, value FROM "
        f"'{SF_DIR}/events.parquet'"
    ).fetchall()
    expect: dict[int, list[int]] = {}
    only_base, only_delta = set(), set()
    for uid, eid, value in rows:
        b = uid % 50
        cur = expect.setdefault(b, [0, 0])
        cur[0] += 1
        cur[1] += int(math.floor(value * 100.0 + 0.5))
        (only_delta if eid % 10 == 0 else only_base).add(b)
    got = {
        r["user_bucket"]: [r["n_events"], r["sum_cents"]]
        for r in QUERIES["q_ivm_delta"](spark, SF_DIR).collect()
    }
    assert got == expect


def test_ivm_maintenance_plan_reads_view_not_base_rows(spark):
    # the point of IVM: the merge plan scans the MATERIALIZED view
    # (parquet temp dir) plus the delta slice of events — base rows
    # enter only the one-time view build, not the maintenance plan.
    # The events relation must appear exactly once in the final plan.
    df = QUERIES["q_ivm_delta"](spark, SF_DIR)
    plan = executed_plan(df)
    assert plan.count("events.parquet") == 1
    assert "q_ivm_view_" in plan  # the materialized aggregate


# ------------------------------------------- semijoin reduction

def test_semijoin_reduction_equals_direct_join(spark):
    from pyspark.sql import functions as F2

    c = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .filter(F2.col("c_mktsegment") == "BUILDING")
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        (F2.col("o_orderdate") >= F2.lit("1995-01-01").cast("timestamp"))
        & (F2.col("o_orderdate") < F2.lit("1996-01-01").cast("timestamp"))
    )
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        F2.col("l_quantity") > 45
    )
    direct = {
        (r["c_nationkey"], r["n"], r["s"])
        for r in (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F2.count("*").cast("bigint").alias("n"),
                F2.sum(
                    F2.floor(
                        F2.col("l_extendedprice") * 100.0 + F2.lit(0.5)
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("s"),
            )
            .collect()
        )
    }
    reduced = {
        (r["nationkey"], r["n_items"], r["revenue_cents"])
        for r in QUERIES["q_semijoin_reduction"](spark, SF_DIR).collect()
    }
    assert reduced == direct
    assert reduced  # filters leave survivors at every sf


def test_semijoin_program_shape(spark):
    # the reducer must actually run as semijoins ahead of the final
    # joins, all broadcast (dimension-scale reducers)
    plan = executed_plan(QUERIES["q_semijoin_reduction"](spark, SF_DIR))
    assert plan.count("LeftSemi") >= 2
    assert "SortMergeJoin" not in plan


# -------------------------------------------------- BOM explosion

def test_bom_matches_path_enumeration(spark):
    # independent witness: enumerate every path (DFS over the layered
    # DAG) and sum products — validating the hop-stratified closure
    # against the definition itself
    import duckdb as d
    from collections import defaultdict

    rows = d.sql(
        f"SELECT event_id, user_id FROM '{SF_DIR}/events.parquet' "
        f"WHERE event_id % 61 = 0"
    ).fetchall()
    raw = defaultdict(int)
    for eid, uid in rows:
        l = eid % 4
        raw[(l * 1000 + uid % 101, (l + 1) * 1000 + (2 * uid + eid) % 101)] += (
            eid % 3 + 1
        )
    for l in range(4):
        for i in range(11):
            raw[(l * 1000 + i, (l + 1) * 1000 + (i + 3) % 101)] += 2
    adj = defaultdict(list)
    for (s, dd), q in raw.items():
        adj[s].append((dd, q))
    req: dict[tuple[int, int], int] = defaultdict(int)

    def dfs(root, node, prod):
        for nxt, q in adj[node]:
            req[(root, nxt)] += prod * q
            dfs(root, nxt, prod * q)

    for s in list(adj):
        dfs(s, s, 1)
    expect = sorted(
        ((q, s, dd) for (s, dd), q in req.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    rows2 = QUERIES["q_bom_explosion"](spark, SF_DIR).collect()
    got = [(r["total_qty"], r["assembly"], r["component"]) for r in rows2]
    assert got == expect


def test_bom_sum_product_is_not_idempotent_squaring(spark):
    # the semiring subtlety the docstring claims: closure-by-squaring
    # (correct for max-plus/boolean) DOUBLE-COUNTS in sum-product.
    # Tiny witness: chain a->b->c->d with unit quantities; squaring
    # B2 = E + E@E, then B2 + B2@B2 counts a->c twice (once in B2,
    # once composed) — hop stratification counts it once.
    E = {("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1}

    def compose(x, y):
        out = {}
        for (s, m), q1 in x.items():
            for (m2, dd), q2 in y.items():
                if m == m2:
                    out[(s, dd)] = out.get((s, dd), 0) + q1 * q2
        return out

    def add(x, y):
        out = dict(x)
        for k, v in y.items():
            out[k] = out.get(k, 0) + v
        return out

    b2 = add(E, compose(E, E))
    squared = add(b2, compose(b2, b2))
    # hop-stratified truth: every pair has exactly one path => qty 1
    assert squared[("a", "c")] == 2  # the double count squaring makes
    hop = dict(E)
    frontier = dict(E)
    for _ in range(2):
        frontier = compose(frontier, E)
        hop = add(hop, frontier)
    assert all(v == 1 for v in hop.values())


# -------------------------------------------- normal equations (OLS)

def test_normal_equations_match_fraction_cramer(spark):
    import math
    from fractions import Fraction

    import duckdb as d

    rows = d.sql(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM "
        f"'{SF_DIR}/orders.parquet'"
    ).fetchall()
    n = len(rows)
    s1 = s2 = s11 = s12 = s22 = sy = s1y = s2y = 0
    for ok, ck, p in rows:
        x1, x2 = ok % 7, ck % 5
        y = int(math.floor(p * 100.0 + 0.5))
        s1 += x1; s2 += x2; s11 += x1 * x1; s12 += x1 * x2
        s22 += x2 * x2; sy += y; s1y += x1 * y; s2y += x2 * y
    det = (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2))
    det0 = (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y))
    det1 = (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2))
    det2 = (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2))
    row = QUERIES["q_normal_equations"](spark, SF_DIR).collect()[0]
    assert row["n"] == n

    def ppm(num):
        sign = -1 if (num < 0) != (det < 0) else 1
        return sign * (abs(num) * 10**6 // abs(det))

    assert row["beta0_ppm"] == ppm(det0)
    assert row["beta1_ppm"] == ppm(det1)
    assert row["beta2_ppm"] == ppm(det2)
    # the solution really solves the system: S @ beta == b exactly
    beta = [Fraction(det0, det), Fraction(det1, det), Fraction(det2, det)]
    S = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]]
    b = [sy, s1y, s2y]
    for i in range(3):
        assert sum(Fraction(S[i][j]) * beta[j] for j in range(3)) == b[i]


def test_normal_equations_residual_orthogonality(spark):
    # OLS defining property: residuals are orthogonal to every
    # feature column (checked in exact Fractions at sf0.001)
    import math
    from fractions import Fraction

    import duckdb as d

    rows = d.sql(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM "
        f"'{SF_DIR}/orders.parquet'"
    ).fetchall()
    n = len(rows)
    s1 = s2 = s11 = s12 = s22 = sy = s1y = s2y = 0
    for ok, ck, p in rows:
        x1, x2 = ok % 7, ck % 5
        y = int(math.floor(p * 100.0 + 0.5))
        s1 += x1; s2 += x2; s11 += x1 * x1; s12 += x1 * x2
        s22 += x2 * x2; sy += y; s1y += x1 * y; s2y += x2 * y
    det = (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2))
    assert det != 0  # features + intercept are linearly independent
    det0 = (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y))
    det1 = (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2))
    det2 = (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2))
    b0, b1, b2 = (Fraction(det0, det), Fraction(det1, det),
                  Fraction(det2, det))
    r_dot_1 = r_dot_x1 = r_dot_x2 = Fraction(0)
    for ok, ck, p in rows:
        x1, x2 = ok % 7, ck % 5
        y = int(math.floor(p * 100.0 + 0.5))
        resid = Fraction(y) - (b0 + b1 * x1 + b2 * x2)
        r_dot_1 += resid
        r_dot_x1 += resid * x1
        r_dot_x2 += resid * x2
    assert r_dot_1 == 0 and r_dot_x1 == 0 and r_dot_x2 == 0


# ------------------------------------------------- rank overlap curve

def test_rank_overlap_matches_set_intersections(spark):
    import duckdb as d

    docs = d.sql(
        f"SELECT doc_id, n_chars FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    a = [i for i, _ in sorted(docs, key=lambda t: (-t[1], t[0]))[:20]]
    b = [
        i
        for i, _ in sorted(
            docs, key=lambda t: (-(t[1] + (t[0] % 97) * 50), t[0])
        )[:20]
    ]
    rows = QUERIES["q_rank_overlap"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in sorted(rows, key=lambda r: r["depth"]):
        d_ = r["depth"]
        ov = len(set(a[:d_]) & set(b[:d_]))
        assert r["overlap"] == ov
        assert r["agreement_ppm"] == ov * 10**6 // d_
    # the perturbation must make the rankings genuinely different
    assert a != b


def test_rank_overlap_monotone_and_topk_plan(spark):
    rows = sorted(
        QUERIES["q_rank_overlap"](spark, SF_DIR).collect(),
        key=lambda r: r["depth"],
    )
    ovs = [r["overlap"] for r in rows]
    assert all(b2 >= a2 for a2, b2 in zip(ovs, ovs[1:]))  # cumulative
    assert all(r["overlap"] <= r["depth"] for r in rows)
