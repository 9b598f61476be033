"""int64 headroom pins for the round-11/12 integer-lattice additions
(VERDICT r11 item 4 — the q_l_moments overflow was caught by ACCIDENT
of the quiet bench at sf0.1; these make the documented bounds
EXECUTABLE in the test_round9_headroom.py style): measure the actual
accumulator magnitudes from the shipped fixtures at every scale
factor, extrapolate to sf1 with the OBSERVED/structural growth rate,
and assert headroom under 2^63. A fixture regeneration that fattens
the value domain — or a query edit that grows a product — fails here
instead of wrapping silently at a scale the sf0.01 drive never
reaches.

Growth rates used (structural, not fitted):
- q_l_moments  s2 term sums scale ~ n^3 per group (rank^2 x value,
  n rows)      -> sf0.1 -> sf1 multiplies by 1e3.
- q_markov_power m2 entries scale ~ n^2 (count products), m4 entries
  ~ (m2/1e3)^2 -> x1e4 per decade.
- q_grubbs_test selection lattice |n*x - S| scales ~ n -> x10; the
  REJECTED integer variance form n*Q - S^2 scales ~ n^2 -> x100 (the
  negative pin documents why the double readout form was chosen).
"""

from __future__ import annotations

import collections


I64_MAX = 2**63 - 1

SFS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]


def _l_moments_hi_accumulators(duck, sf_dir: str) -> int:
    """Max per-group UNSPLIT s2 sum — the quantity whose sf0.1 value
    forced the hi/lo split (commit b3d2064)."""
    rows = duck.sql(
        f"""
        WITH x AS (
          SELECT l_returnflag AS grp,
                 CAST(floor(l_extendedprice) AS BIGINT) AS v,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY CAST(floor(l_extendedprice) AS BIGINT),
                            l_orderkey, l_linenumber) AS i
          FROM '{sf_dir}/lineitem.parquet'
        )
        SELECT grp, SUM((i-1)*(i-2)*v) AS s2 FROM x GROUP BY grp
        """
    ).fetchall()
    return max(int(s2) for _g, s2 in rows)


def test_l_moments_split_accumulator_holds_through_sf1(duck):
    worst = 0
    for sf_dir, _sf in SFS:
        worst = max(worst, _l_moments_hi_accumulators(duck, sf_dir))
    # raw (unsplit) sum wraps between sf0.1 and sf1 — the bug the
    # split fixed; the HI half carries s2 div 1e9 and scales the same
    # n^3, so hi(sf1) ~ raw(sf0.1) * 1e3 / 1e9.
    raw_sf1 = worst * 1_000
    hi_sf1 = raw_sf1 // 1_000_000_000
    assert hi_sf1 < I64_MAX / 100, hi_sf1  # >= 2 decades of slack
    # and the negative pin: the unsplit accumulator genuinely needs
    # the split (no silent over-engineering).
    assert raw_sf1 > I64_MAX / 100, raw_sf1


def _markov_m2_m4(duck, sf_dir: str) -> tuple[int, int]:
    rows = duck.sql(
        f"""
        WITH seq AS (
          SELECT event_type AS f,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS t
          FROM '{sf_dir}/events.parquet'
        )
        SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE t IS NOT NULL GROUP BY f, t
        """
    ).fetchall()
    m1 = {(f, t): int(c) for f, t, c in rows}
    states = sorted({f for f, _ in m1} | {t for _, t in m1})

    def matmul(a, b):
        out = collections.Counter()
        for (f, mid), ca in a.items():
            for t in states:
                cb = b.get((mid, t))
                if cb:
                    out[(f, t)] += ca * cb
        return dict(out)

    m2 = matmul(m1, m1)
    m2s = {k: v // 1000 for k, v in m2.items()}
    m4 = matmul(m2s, m2s)
    return max(m2.values()), max(m4.values() or [0])


def test_markov_power_prescale_holds_through_sf1(duck):
    worst_m2, worst_m4 = 0, 0
    for sf_dir, _sf in SFS:
        m2, m4 = _markov_m2_m4(duck, sf_dir)
        worst_m2, worst_m4 = max(worst_m2, m2), max(worst_m4, m4)
    # m2 entries are count products ~ n^2 -> x100 per decade;
    # m4 entries ~ (m2/1e3)^2 -> x1e4 per decade.
    assert worst_m2 * 100 < I64_MAX / 100, worst_m2
    assert worst_m4 * 10_000 < I64_MAX / 100, worst_m4
    # negative pin: WITHOUT the 1e3 prescale, m4 at sf1 would sit
    # within one decade of wrapping (m4_unscaled ~ m4 * 1e6).
    assert worst_m4 * 10_000 * 1_000_000 > I64_MAX / 10


def _grubbs_magnitudes(duck, sf_dir: str) -> tuple[int, int, int]:
    rows = duck.sql(
        f"""
        WITH v AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS x
          FROM '{sf_dir}/events.parquet'
        )
        SELECT MAX(cnt * mx), MAX(q), MAX(cnt * q)
        FROM (SELECT event_type, COUNT(*) AS cnt, MAX(abs(x)) AS mx,
                     SUM(x*x) AS q
              FROM v GROUP BY event_type)
        """
    ).fetchall()
    nx, q, nq = rows[0]
    return int(nx), int(q), int(nq)


def test_grubbs_selection_lattice_holds_through_sf1(duck):
    worst_nx, worst_q, worst_nq = 0, 0, 0
    for sf_dir, _sf in SFS:
        nx, q, nq = _grubbs_magnitudes(duck, sf_dir)
        worst_nx, worst_q, worst_nq = (
            max(worst_nx, nx),
            max(worst_q, q),
            max(worst_nq, nq),
        )
    # |n*x - S| <= 2 * n * max|x| ~ linear in n -> x10 to sf1.
    assert worst_nx * 10 * 2 < I64_MAX / 100, worst_nx
    # Sum x^2 ~ linear in n -> x10 to sf1.
    assert worst_q * 10 < I64_MAX / 100, worst_q
    # negative pin: the REJECTED integer form n*Q - S^2 (~ n^2, x100
    # to sf1) would be within two decades of wrapping — why g reads
    # from DOUBLE-cast moments instead.
    assert worst_nq * 100 > I64_MAX / 100, worst_nq
