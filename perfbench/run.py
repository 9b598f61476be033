#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {ingest,query} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The seed drives the generated inputs, the
query sample and the op order; the program only sees generated inputs.
Load is one closed-loop client on ``local[nproc]``. Outputs are checked
(DuckDB oracles, ground truth, independent DuckDB reads of the sources);
every wrong or failed op counts in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with per-op Spark counters and spans, prints the per-layer
metrics and writes the spans to ``.perfbench/traces/``. Inputs, Spark's
scratch space and temp files live under ``.perfbench/`` in the working
directory and are removed when the run ends. See
``perfbench/design.json`` for workload rationale, traffic dimensions and
which per-layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("ingest", "query")
TABLE_SF = 0.01  # analytic table scale for the query workloads
#: Nominal wall time of one unit of timed work on a 4-core host. The window
#: is ``seconds // unit`` whole units (at least one), fixed before the run
#: starts, so every run of a given length does the same work.
QUERY_ROUND_S = 18.0  # one round over the query pool (perfbench/pools.py)
INGEST_ROUND_S = 6.5  # one traffic round: 5 events, each with its table query


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", action="store_true",
        help="damage one output on purpose, to show the checks catch it",
    )
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jopts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {jopts}".strip()


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    real_stdout = os.dup(1)
    os.dup2(2, 1)  # Spark and py4j chatter goes to stderr; stdout is the result
    sys.stdout = sys.stderr
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("aws_vpcflowlogs_parquet_spark") is None:
        print(f"perfbench: the program is not importable from {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _isolate(work)
    spark = None
    try:
        from aws_vpcflowlogs_parquet_spark.plans.catalog import ORACLES, QUERIES

        import datagen
        import pools
        import report
        import workloads

        pools.check_pools(QUERIES, ORACLES)
        # inputs first: generation is excluded from set-up
        data_dir = os.path.join(work, "tables")
        if args.workload == "ingest":
            units = max(1, int(args.seconds // INGEST_ROUND_S))
            traffic = datagen.make_flowlog_traffic(
                os.path.join(work, "s3"), args.seed, workloads.WARM_ROUNDS + units
            )
        else:
            datagen.write_tables(data_dir, TABLE_SF, args.seed)
            units = max(1, int(args.seconds // QUERY_ROUND_S))
            check, timed = pools.query_order(args.seed)

        from aws_vpcflowlogs_parquet_spark.session import get_spark

        t0 = time.time()
        spark = get_spark("perfbench")
        ctx = workloads.Context(spark, work, data_dir, bool(args.trace), args.corrupt)
        session_s = time.time() - t0
        workloads._log(f"session started in {session_s:.2f} s")
        if args.workload == "ingest":
            info = workloads.ingest_workload(ctx, traffic)
        else:
            info = workloads.query_workload(ctx, check, timed, units)
        setup_s = session_s + ctx.warmup_s
        result = report.summarize(ctx, args.workload, setup_s, info)
        if args.trace:
            ctx.tracer.dump(
                os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, **info},
            )
        _stop(spark)
        spark = None
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
