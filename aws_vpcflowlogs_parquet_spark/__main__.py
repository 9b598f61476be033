"""Unified operational CLI — the engine's `spark-submit` surface.

    python -m aws_vpcflowlogs_parquet_spark convert --src a.log.gz --dst out/
    python -m aws_vpcflowlogs_parquet_spark register --table flowlogs --path out/
    python -m aws_vpcflowlogs_parquet_spark stream --src drop/ --dst out/ --checkpoint ckpt/
    python -m aws_vpcflowlogs_parquet_spark event event.json
    python -m aws_vpcflowlogs_parquet_spark query q_topk --sf /root/testdata/sf0.001
    python -m aws_vpcflowlogs_parquet_spark profile q_topk q_kcore q_topk
    python -m aws_vpcflowlogs_parquet_spark profile --sf /root/testdata/sf0.01
    python -m aws_vpcflowlogs_parquet_spark layout --path tbl/ --cluster-by x,y

Each subcommand is a thin veneer over the library (operators/, plans/,
streaming/, observability) — the operational equivalent of the
reference's Lambda binary (main.go:67-85), runnable under spark-submit
or plain python on any cluster.

`profile` is the engine's one profiling entry point: it builds and runs
each named query (every registered query, streams included, when none
is named; a repeated name is a repeat run) and prints one JSON digest
per run (observability.profile_build). It exits 1 if any run spilled.
"""

from __future__ import annotations

import argparse
import json
import sys


def _print_keys(keys: list[tuple[str, ...]]) -> None:
    """One ``dt=…/account=…/src=…`` line per partition key written."""
    from .schema import PARTITION_COLUMNS

    for key in keys:
        print("/".join(f"{c}={v}" for c, v in zip(PARTITION_COLUMNS, key)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="aws_vpcflowlogs_parquet_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("convert", help="batch-convert flow-log gzip/text files")
    p.add_argument("--src", nargs="+", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--strict", action=argparse.BooleanOptionalAction, default=True,
                   help="fail on a malformed line (default); --no-strict drops it")

    p = sub.add_parser("register", help="register/repair the partitioned table")
    p.add_argument("--table", required=True)
    p.add_argument("--path", required=True)

    p = sub.add_parser("stream", help="run the streaming converter")
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--available-now", action="store_true",
                   help="drain what exists, then exit (backfill mode)")

    p = sub.add_parser("event", help="process an S3/SNS event JSON (Lambda twin)")
    p.add_argument("event")

    p = sub.add_parser("query", help="run a catalog query and print rows")
    p.add_argument("name")
    p.add_argument("--sf", default="/root/testdata/sf0.001")
    p.add_argument("--limit", type=int, default=20)

    p = sub.add_parser("profile", help="run catalog queries, print their metrics")
    p.add_argument("names", nargs="*", help="default: every registered query")
    p.add_argument("--sf", default="/root/testdata/sf0.001")

    p = sub.add_parser("layout", help="rewrite a table clustered for skipping")
    p.add_argument("--path", required=True)
    p.add_argument("--cluster-by", required=True, help="comma-separated columns")
    p.add_argument("--files", type=int, default=8)

    args = ap.parse_args(argv)
    from .session import get_spark

    spark = get_spark(f"cli-{args.cmd}")

    if args.cmd == "convert":
        from .operators.convert import convert_flowlogs

        _print_keys(convert_flowlogs(spark, args.src, args.dst, strict=args.strict))
    elif args.cmd == "register":
        from .operators.convert import register_flowlog_table

        register_flowlog_table(spark, args.table, args.path, partitions=None)
        print(f"registered {args.table} at {args.path}")
    elif args.cmd == "stream":
        from .streaming.convert_stream import start_flowlog_stream

        q = start_flowlog_stream(spark, args.src, args.dst, args.checkpoint)
        if args.available_now:
            q.processAllAvailable()
            q.stop()
        else:
            q.awaitTermination()
    elif args.cmd == "event":
        from .handler import config_from_env, run_event

        with open(args.event) as f:
            event = json.load(f)
        _print_keys(run_event(spark, event, config_from_env()))
    elif args.cmd == "query":
        from .plans.catalog import QUERIES

        df = QUERIES[args.name](spark, args.sf)
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "profile":
        from . import observability
        from .plans.catalog import QUERIES

        runs = [(name, QUERIES[name]) for name in args.names or sorted(QUERIES)]
        spilled = 0
        for i, (name, build) in enumerate(runs):
            digest = observability.profile_build(
                spark, f"profile-{i}-{name}", lambda: build(spark, args.sf)
            )
            print(json.dumps({"query": name, **digest}), flush=True)
            spilled += digest["spill_bytes"] > 0
        return 1 if spilled else 0
    elif args.cmd == "layout":
        from .operators.layout import optimize_layout

        optimize_layout(
            spark.read.parquet(args.path),
            args.path + "__clustered",
            cluster_by=args.cluster_by.split(","),
            n_files=args.files,
        )
        print(f"wrote {args.path}__clustered")
    return 0


if __name__ == "__main__":
    sys.exit(main())
