"""Frozen query membership of the ``query`` workload.

The lists are part of the benchmark, not of the program: deleting or
renaming a catalog query must not silently change what the workload runs,
so ``check_pools`` fails the run when a name here has left ``QUERIES``
or lost its oracle.
"""

from __future__ import annotations

import random

#: The Athena surface the converted table exists for.
FLOWLOG_QUERIES = ("q_flowlog_parse", "q_flowlog_top_talkers", "q_flowlog_reject_ratio")

#: Sub-second catalog queries (warm, 4 cores), spread over the SQL
#: surface: scans and projections, joins, subqueries, windows, text.
LIGHT = (
    "q_scalar_funcs", "q_parse_project", "q_bitwise", "q_join_inner",
    "q_distinct_partitions", "q_chunk_windows", "q_exists_subquery", "q_tpch_q6",
    "q_pivot",
)

#: Execution-bound tail, one query per family: shuffles, checkpoint jobs
#: launched inside the builder and state-store commits dominate it.
HEAVY = {
    "q_dedup_prefix_filter": "dedup",  # _prefix_pairs_core: shingle join + verify
    "q_pagerank": "graph",  # checkpointed iterative kernel, jobs inside the builder
    "q_stream_stateful": "streaming",  # harness stream with applyInPandasWithState
}


def query_pool() -> list[str]:
    return [*LIGHT, *FLOWLOG_QUERIES, *HEAVY]


def check_pools(queries: dict, oracles: dict) -> None:
    missing = [q for q in query_pool() if q not in queries or q not in oracles]
    if missing:
        raise SystemExit(
            f"perfbench: frozen workload queries missing from the catalog "
            f"(QUERIES/ORACLES): {missing}; the workload definition must be "
            f"revised in perfbench/pools.py, not silently changed"
        )


def query_order(seed: int) -> tuple[list[str], list[str]]:
    """The check pass (every pool query once) and one timed round, each in
    a seeded order. A round runs the sub-second queries twice, since their
    median is the workload's latency, and the heavy ones once, which keeps
    a round near 18 s on 4 cores. Each heavy query opens an equal block of
    sub-second ones, so no seed runs two heavy queries back to back. The
    seed moves order, never membership, so every seed runs the same work."""
    rng = random.Random(seed)
    check = query_pool()
    rng.shuffle(check)
    light = [*LIGHT, *FLOWLOG_QUERIES] * 2
    rng.shuffle(light)
    heavy = list(HEAVY)
    rng.shuffle(heavy)
    k = len(light) // len(heavy)
    timed = [q for i, h in enumerate(heavy) for q in (h, *light[i * k : (i + 1) * k])]
    return check, timed
