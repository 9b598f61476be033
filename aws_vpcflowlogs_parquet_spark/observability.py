"""Post-execution plan metrics — the engine's observability surface.

Spark attaches SQLMetrics to every physical operator (rows produced,
shuffle bytes, spill sizes, scan stats). `profile(df)` executes a frame
and walks the final (AQE-resolved) plan tree to return those numbers as
plain data — the per-query digest a pipeline records next to its outputs
(and the first thing to look at when a 100 TB run is slow: did the scan
read what we thought? did anything spill? how much crossed the wire?).

`profile_build(spark, group, build)` wraps a catalog builder: it times
the build, counts the jobs run under the query's job group (and under
each stream's run id, the group Spark gives a stream's jobs), and adds
the per-micro-batch progress of every stream the build ran. Batch
metrics need no listener: polling the executed plan after the action
yields the same SQLMetrics. Streams do: a catalog stream runs to its end
inside the build (availableNow), so no handle is left to poll and the
returned frame only reads its output. A ``StreamingQueryListener``,
added around the build and removed after it, records their progress as
data; it is the only listener here.

Code generation is not a plan metric: Janino compiles each generated
class once per JVM and caches it (``session.CODEGEN_CACHE_ENTRIES``), so
the digest also reports the classes compiled during the action and the
time spent compiling them, read from Spark's process-wide counters.
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def _nodes(root):
    """Yield every physical node, descending through AQE wrappers:
    AdaptiveSparkPlanExec -> its current executedPlan, QueryStageExec ->
    its materialized stage plan, ReusedExchange/Subquery -> child."""
    stack = [root]
    seen = set()
    while stack:
        node = stack.pop()
        ident = node.id() if hasattr(node, "id") else id(node)
        key = (node.getClass().getName(), ident)
        if key in seen:
            continue
        seen.add(key)
        yield node
        name = node.nodeName()
        if "AdaptiveSparkPlan" in name:
            try:
                stack.append(node.executedPlan())
                continue
            except Exception:
                pass
        if "QueryStage" in name:
            try:
                stack.append(node.plan())
                continue
            except Exception:
                pass
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def codegen_counters(spark) -> tuple[int, int]:
    """(classes compiled, compile ns) so far in this JVM: the count of
    Spark's ``CodegenMetrics`` compile-time histogram (one sample per
    cache miss) and ``CodeGenerator.compileTime``'s running total."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), gen.compileTime()


def profile(df: DataFrame) -> dict[str, Any]:
    """Execute ``df`` and return its metric digest.

    Keys: rows_out, scan_rows (sum over scans), shuffle_bytes_written,
    shuffle_records, spill_bytes, peak_mem_bytes (max over operators),
    n_exchanges, n_operators, wall_sec, exchange_records (per-exchange
    shuffleRecordsWritten, plan-walk order — lets a caller distinguish a
    row-preserving scan-parallelization exchange from an aggregation
    exchange whose record count proves map-side state is fixed-size),
    codegen_compiles and codegen_compile_ms (generated classes compiled
    during the action; 0 when every class was already cached),
    operators (each node's name and its non-zero metrics, plan-walk
    order).
    """
    # the action MUST run this DataFrame's own QueryExecution — a
    # .count() would plan a different query and leave these metrics empty
    compiles0, compile_ns0 = codegen_counters(df.sparkSession)
    t0 = time.time()
    rows = df.collect()
    wall = time.time() - t0
    compiles1, compile_ns1 = codegen_counters(df.sparkSession)

    agg: dict[str, Any] = {
        "rows_out": len(rows),
        "wall_sec": round(wall, 3),
        "scan_rows": 0,
        "shuffle_bytes_written": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
        "peak_mem_bytes": 0,
        "n_exchanges": 0,
        "n_operators": 0,
        "exchange_records": [],
        "operators": [],
        "codegen_compiles": compiles1 - compiles0,
        "codegen_compile_ms": round((compile_ns1 - compile_ns0) / 1e6, 1),
    }
    for node in _nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        agg["n_operators"] += 1
        vals = _metrics(node)
        agg["operators"].append(
            {"name": name, "metrics": {k: v for k, v in vals.items() if v}}
        )
        if "Scan" in name:
            agg["scan_rows"] += vals.get("numOutputRows", 0)
        if "Exchange" in name:
            agg["n_exchanges"] += 1
            agg["exchange_records"].append(
                vals.get("shuffleRecordsWritten", 0)
            )
        agg["shuffle_bytes_written"] += vals.get("shuffleBytesWritten", 0)
        agg["shuffle_records"] += vals.get("shuffleRecordsWritten", 0)
        agg["spill_bytes"] += vals.get("spillSize", 0)
        agg["peak_mem_bytes"] = max(
            agg["peak_mem_bytes"], vals.get("peakMemory", 0)
        )
    return agg


class _StreamProgress(StreamingQueryListener):
    """Records every micro-batch's progress and each stream's run id."""

    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []
        self.run_ids: set[str] = set()

    def onQueryStarted(self, event) -> None:
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "stateOperators": [dict(op) for op in p.stateOperators],
            }
        )

    def onQueryTerminated(self, event) -> None:
        pass


def profile_build(
    spark: SparkSession, group: str, build: Callable[[], DataFrame]
) -> dict[str, Any]:
    """Build a frame with ``build()``, execute it, and return its digest.

    Adds to :func:`profile`'s keys: build_s (the builder call, including
    any jobs or streams it runs), jobs (jobs run under job group
    ``group`` over build and action, plus those of the streams the build
    started) and streams (each micro-batch's batchId, numInputRows,
    durationMs and stateOperators, in delivery order).
    """
    sc = spark.sparkContext
    listener = _StreamProgress()
    spark.streams.addListener(listener)
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        try:
            df = build()
            build_s = time.perf_counter() - t0
        finally:
            # progress events reach the listener asynchronously: drain
            # the bus (bounded wait) so none lands after the removal
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(listener)
        digest = profile(df)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = sum(
        len(tracker.getJobIdsForGroup(g)) for g in {group, *listener.run_ids}
    )
    return {
        "build_s": round(build_s, 3),
        "jobs": jobs,
        **digest,
        "streams": listener.batches,
    }
