"""Tracked persist() for multi-consumer pipeline intermediates.

Several operator builders persist shared sub-relations (shingle tables,
the exact-duplicate collapse, pagerank's loop invariants, IVF cell
assignments) so a plan with N consumers runs the expensive shuffle once
instead of N times. Those frames are lazy and flow into the DataFrame
the builder RETURNS, so the builder itself can never unpersist them —
the caller's terminal action hasn't run yet. Left untracked they
accumulate over a long session (ADVICE r5: a 220-query drive stacks
every query's caches), adding memory/disk pressure; Spark's LRU evicts
under pressure but eviction is exactly the thrash we want to avoid.

The contract here:

- builders call :func:`track_persist` instead of ``df.persist()`` for
  any persist they cannot balance with an in-scope ``unpersist()``;
- the query catalog's ``@register`` wrapper calls
  :func:`release_cached_intermediates` when the NEXT query is built,
  bounding live tracked caches to one query's working set;
- bench.py additionally ``spark.catalog.clearCache()``s between timed
  runs, and long-lived embedders can call
  :func:`release_cached_intermediates` explicitly at any boundary.

SEQUENTIAL BUILD-THEN-MATERIALIZE CONTRACT (ADVICE r6): the registry is
process-global, so the release-on-next-build scheme assumes the harness
materializes query N before building query N+1 — true of every harness
this repo ships (driver, pytest, bench, CLI, all sequential). A harness
that interleaves builds would get its still-pending intermediates
unpersisted early: results stay CORRECT (Spark recomputes from lineage),
but the shared shuffles this module de-duplicates would silently re-run.
To make the contract observable rather than assumed, the release path
logs (DEBUG) every nonzero release with the count, and all registry
mutation is serialized by a lock so even a misbehaving multi-threaded
builder cannot corrupt the list itself — it can only pay the recompute.

Balanced persists (an iterative loop that unpersists its previous
round, e.g. dedup_clusters / label_propagation) stay untracked — they
already free themselves.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame

_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_LOCK = threading.Lock()
_log = logging.getLogger(__name__)

#: Bound on the wait for an ``observe()`` probe in :func:`ckpt_count`.
#: The metrics normally arrive within milliseconds of the action.
OBSERVE_WAIT_S = 30.0


def track_persist(df: DataFrame) -> DataFrame:
    """``persist()`` + enrol for the next release_cached_intermediates()."""
    persisted = df.persist()
    with _TRACKED_LOCK:
        _TRACKED_CACHES.append(persisted)
    return df


def release_cached_intermediates() -> int:
    """Unpersist every tracked intermediate; returns how many released.

    Teardown must stay safe when the owning SparkSession is already
    stopped (nothing left to free), but a swallowed failure on a LIVE
    session would silently re-introduce the block-manager leak this
    module exists to prevent — so that case is logged, not hidden.
    """
    import warnings

    with _TRACKED_LOCK:
        drained = list(_TRACKED_CACHES)
        _TRACKED_CACHES.clear()
    if drained:
        # Visible trace of the sequential contract doing its job — and
        # of a violation: a release firing while another query's build
        # is still pending shows up here as an unexpected nonzero drain.
        _log.debug(
            "releasing %d tracked cached intermediate(s)", len(drained)
        )
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception as exc:
            try:
                stopped = df.sparkSession.sparkContext._jsc is None
            except Exception:
                stopped = True
            if not stopped:
                warnings.warn(
                    f"unpersist failed on a live session; cached block "
                    f"may leak: {type(exc).__name__}: {exc}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return n


def tracked_cache_count() -> int:
    """How many tracked intermediates are currently live (test hook)."""
    with _TRACKED_LOCK:
        return len(_TRACKED_CACHES)


def ckpt_count(df: DataFrame, probe=None):
    """Eager ``localCheckpoint`` + convergence probe in ONE job.

    The iterative kernels (k-core / k-truss peeling, path-doubling
    closures, min-label propagation) pay one materialization job per
    round for lineage truncation; their convergence probes (``count()``
    / ``isEmpty()`` / checksum compares) were a SECOND job over the
    materialized leaf — pure per-round job floor (~0.1-0.3 s/job
    measured in OPTIMIZATION_r12.md §session-3; the separate count is
    in fact 3 jobs on Spark 4.1 with AQE). ``observe()`` computes the
    probe aggregate with accumulators DURING the checkpoint's own
    materialization (guide §1.2 "don't compute what you throw away"):
    ``localCheckpoint`` runs through ``withAction``, so the
    QueryExecutionListener fires and ``Observation.get`` returns without
    launching another action.

    ``probe`` defaults to ``count(1)`` (row count of the checkpointed
    relation); pass e.g. ``F.count(F.when(cond, 1))`` or ``F.sum(col)``
    to observe a filtered count / checksum in the same pass. Returns
    ``(leaf, value)`` — the materialized plan leaf is identical to the
    un-observed checkpoint (CollectMetrics is a row-preserving
    pass-through consumed by the materialization).

    The observed metrics reach ``Observation`` through Spark's
    asynchronous listener bus, and ``Observation.get`` waits for them with
    no bound. Here the wait is bounded by :data:`OBSERVE_WAIT_S`; past it,
    the probe is computed again over the materialized leaf (one more job,
    same value: for the default probe this is ``leaf.count()``), so a
    lost observation costs a job instead of hanging the query.

    Lives in this module (not plans/catalog.py) so operator modules can
    use it without an import cycle; catalog re-exports it as
    ``_ckpt_count``.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    expr = probe if probe is not None else F.count(F.lit(1))
    out = df.observe(obs, expr.alias("n")).localCheckpoint(eager=True)
    if _await_observation(obs):
        return out, obs.get["n"]
    _log.warning(
        "observed probe did not arrive within %g s; recomputing it "
        "over the checkpointed leaf", OBSERVE_WAIT_S,
    )
    return out, out.agg(expr.alias("n")).first()["n"]


def _await_observation(obs) -> bool:
    """Wait at most :data:`OBSERVE_WAIT_S` for ``obs``'s metrics; True
    once they are in, so ``obs.get`` returns without blocking."""
    from py4j.protocol import Py4JJavaError

    jvm = obs._jvm
    bound = jvm.scala.concurrent.duration.Duration.create(
        int(OBSERVE_WAIT_S * 1000), "ms"
    )
    try:
        jvm.scala.concurrent.Await.ready(obs._jo.future(), bound)
    except Py4JJavaError as exc:
        name = exc.java_exception.getClass().getName()
        if name != "java.util.concurrent.TimeoutException":
            raise
        return False
    return True
