"""Turns a run's ops into the metrics BENCHMARK.json names.

End-to-end metrics (``--trace 0``) are the same names on every workload;
the op they describe is the workload's unit of user work: one catalog
query on ``query``, one S3 event plus the Athena-style query on the
freshly registered table on ``ingest``. Op cost is the CPU seconds the
program ran during the op (``layers.CpuClock``) in units of a fixed
reference kernel's CPU seconds in the same run (``reference_cpu_s``), not
its wall time: on a shared host a whole run's wall time, and its CPU time
too, move with the other tenants by more than the bound, and the kernel
moves with them. Wall times go to stderr and, traced, to
``trace.op_p50_s``. A run has too few ops (10 on ``ingest``, 27 on
``query``) for a percentile above the median with ten samples beyond it,
so no tail is reported. Per-layer metrics (``--trace 1``) are named by
module; a layer a workload does not touch reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from layers import covered_s, job_totals, peak_rss_mb


def _declared() -> tuple[dict, dict]:
    """Metric names and units, as BENCHMARK.json declares them. Every
    per-layer metric must also say in design.json what it should move."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    with open(os.path.join(here, "design.json"), encoding="utf-8") as fh:
        moves = json.load(fh)["moves"]
    end_to_end, per_layer = ({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))
    if set(per_layer) != set(moves):
        raise SystemExit(
            f"perfbench: per-layer metrics and design.json 'moves' disagree: "
            f"{sorted(set(per_layer) ^ set(moves))}"
        )
    return end_to_end, per_layer


END_TO_END, PER_LAYER = _declared()


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _iqm(xs: list[float]) -> float:
    """Interquartile mean: the mean of the middle half of the values, as
    robust to a few outliers as the median but averaging over many ops."""
    xs = sorted(xs)
    q = len(xs) // 4
    return _mean(xs[q : len(xs) - q])


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dur(op, phase: str) -> float:
    s, e = op.phases.get(phase, (0.0, 0.0))
    return e - s


def _end_to_end(ctx, workload: str, setup_s: float) -> dict:
    primary = [op for op in ctx.ops if op.kind in ("query", "event")]
    cpu = [op.cpu for op in primary]
    walls = [op.wall for op in primary]
    ref = statistics.median(ctx.ref_s)
    print(
        f"perfbench: {workload}: {len(primary)} timed ops; wall p50 {statistics.median(walls):.3f} s; "
        f"CPU {sum(cpu):.2f} s over {sum(walls):.2f} s of ops; reference kernel {ref:.4f} s",
        file=sys.stderr,
    )
    return {
        "setup_s": setup_s,
        "op_cpu_iqm_ref": _iqm(cpu) / ref,
        "rows_per_cpu_ref": sum(op.rows for op in primary) / (sum(cpu) / ref),
    }


def _per_layer(ctx, info: dict) -> dict:
    ops = ctx.ops
    queries = [op for op in ops if op.kind == "query"]
    events = [op for op in ops if op.kind == "event"]
    streams = [op for op in ops if op.kind == "stream"]
    primary = queries + events
    totals = [job_totals([j for js in op.jobs.values() for j in js]) for op in primary]
    build_jobs = [job_totals(op.jobs.get("build", [])) for op in queries]
    calls = lambda name: [e - s for op in events for n, s, e in op.layers.get("calls", []) if n == name]  # noqa: E731
    rounds = info.get("rounds", 1)
    fam = lambda f: sum(op.wall for op in queries if op.family == f) / rounds  # noqa: E731
    stream = streams[0].layers.get("stream", {}) if streams else {}
    state = [op.layers["streams"] for op in queries if "streams" in op.layers]
    batches = stream.get("batches", 0) or 1
    v = {
        "memory.peak_rss_mb": peak_rss_mb(ctx.spark),
        "handler.run_event_s": _median(_dur(op, "run_event") for op in events),
        "convert.convert_flowlogs_s": _median(calls("convert_flowlogs")),
        "convert.register_flowlog_table_s": _median(calls("register_flowlog_table")),
        "convert.files_written": _mean(op.layers.get("files_written", 0) for op in events),
        "convert.bytes_written_mb": _mean(op.layers.get("bytes_written_mb", 0) for op in events),
        "ingest.table_query_s": _median(_dur(op, "table_query") for op in events),
        "convert_stream.rows_per_s": streams[0].rows / streams[0].wall if streams else 0.0,
        "convert_stream.batches": stream.get("batches", 0),
        "convert_stream.trigger_ms": stream.get("trigger_ms", 0) / batches,
        "convert_stream.add_batch_ms": stream.get("add_batch_ms", 0) / batches,
        "convert_stream.commit_ms": stream.get("commit_ms", 0) / batches,
        "catalog.build_s": _median(_dur(op, "build") for op in queries),
        "catalog.build_driver_s": _median(
            _dur(op, "build") - b["job_s"] for op, b in zip(queries, build_jobs)
        ),
        "catalog.py4j_calls": _mean(op.layers.get("py4j_calls", 0) for op in queries),
        "catalog.build_jobs": _mean(b["jobs"] for b in build_jobs),
        "catalog.build_job_s": _mean(b["job_s"] for b in build_jobs),
        "catalog.exec_s": _median(_dur(op, "exec") for op in queries),
        "spark.jobs": _mean(t["jobs"] for t in totals),
        "spark.stages": _mean(t["stages"] for t in totals),
        "spark.tasks": _mean(t["tasks"] for t in totals),
        "spark.job_gap_s": _mean(
            op.wall - covered_s([(j.start_ms, j.end_ms) for js in op.jobs.values() for j in js])
            for op in primary
        ),
        "spark.task_run_s": _mean(t["task_run_s"] for t in totals),
        "spark.task_gc_s": _mean(t["task_gc_s"] for t in totals),
        "spark.task_deser_s": _mean(t["task_deser_s"] for t in totals),
        "spark.busy_cores": sum(t["task_run_s"] for t in totals) / sum(op.wall for op in primary),
        "spark.shuffle_write_mb": _mean(t["shuffle_write_mb"] for t in totals),
        "spark.shuffle_read_mb": _mean(t["shuffle_read_mb"] for t in totals),
        "spark.spill_mb": _mean(t["spill_mb"] for t in totals),
        "spark.input_mb": _mean(t["input_mb"] for t in totals),
        "dedup.query_s": fam("dedup"),
        "graph.query_s": fam("graph"),
        "streaming.query_s": fam("streaming"),
        "streaming.batches": _mean(t["batches"] for t in state),
        "streaming.state_commit_ms": _mean(t["state_commit_ms"] for t in state),
        "streaming.state_rows": _mean(t["state_rows"] for t in state),
        "trace.op_p50_s": _median(op.wall for op in primary),
        "trace.op_cpu_iqm_s": _iqm([op.cpu for op in primary]),
        "trace.rows_per_cpu_s": sum(op.rows for op in primary) / sum(op.cpu for op in primary),
        "host.reference_cpu_s": _median(ctx.ref_s),
        "trace.collect_s": ctx.trace_s / len(ops),
        "trace.child_coverage": _median(
            sum(e - s for s, e in op.phases.values()) / op.wall for op in ops
        ),
    }
    return v


def _spans(ctx) -> None:
    """One span per op; its phases as children; Spark jobs and stages
    under the phase that ran them."""
    tr = ctx.tracer
    for op in ctx.ops:
        root = tr.span(op.kind, op.start, op.end, None, op=op.name, ok=op.ok, family=op.family)
        for ph, (s, e) in op.phases.items():
            pid = tr.span(ph, s, e, root)
            if ph == "run_event":
                for name, cs, ce in op.layers.get("calls", []):
                    tr.span(f"convert.{name}", cs, ce, pid)
            tr.jobs(op.jobs.get(ph, []), pid)


def summarize(ctx, workload: str, setup_s: float, info: dict) -> dict:
    if ctx.trace:
        _spans(ctx)
        values, units = _per_layer(ctx, info), PER_LAYER
    else:
        values, units = _end_to_end(ctx, workload, setup_s), END_TO_END
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
