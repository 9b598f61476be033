"""Profile the streaming harness queries: run a stream to completion the
same way streaming/harness.py's run_stream_to_parquet does, but keep the
StreamingQuery handle and dump every micro-batch's progress JSON
(durationMs breakdown + stateOperators metrics) — the guide §1 'measure
first' data for the stateful streaming family (VERDICT r12 item 1).

Usage:
  python scripts/profile_stream.py [--sf DIR] [--partitions N] [--provider rocksdb] [--reps N] ssj
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aws_vpcflowlogs_parquet_spark.session import get_spark


def build_ssj(spark, sf_dir):
    from aws_vpcflowlogs_parquet_spark.sources.tables import stream_events
    from aws_vpcflowlogs_parquet_spark.streaming.harness import staged_events_dir
    from aws_vpcflowlogs_parquet_spark.streaming.windows import stream_stream_join

    src_dir = staged_events_dir(sf_dir)
    clicks = stream_events(spark, src_dir).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, src_dir).filter(
        F.col("event_type") == "purchase"
    )
    return stream_stream_join(clicks, purchases, horizon="30 minutes")


BUILDERS = {"ssj": build_ssj}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    partitions = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "6")
    provider = None
    reps = 2
    if "--sf" in args:
        i = args.index("--sf"); sf_dir = args[i + 1]; del args[i:i + 2]
    if "--partitions" in args:
        i = args.index("--partitions"); partitions = args[i + 1]; del args[i:i + 2]
    if "--provider" in args:
        i = args.index("--provider"); provider = args[i + 1]; del args[i:i + 2]
    if "--reps" in args:
        i = args.index("--reps"); reps = int(args[i + 1]); del args[i:i + 2]

    spark = get_spark("profile-stream")
    from aws_vpcflowlogs_parquet_spark.streaming.harness import stream_tmpdir

    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )

    name = args[0] if args else "ssj"
    for rep in range(reps):
        df = BUILDERS[name](spark, sf_dir)
        out_dir = stream_tmpdir(f"prof_{name}_out_")
        ckpt = stream_tmpdir(f"prof_{name}_ckpt_")
        t0 = time.perf_counter()
        q = (
            df.coalesce(4)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        n = spark.read.parquet(out_dir).count()
        print(f"\n=== rep {rep}: {name} partitions={partitions} provider={provider or 'hdfs'} wall={dt:.2f}s rows={n}")
        for p in q.recentProgress:
            dur = p.get("durationMs", {})
            line = {"batchId": p.get("batchId"), "numInputRows": p.get("numInputRows"), "durationMs": dur}
            for so in p.get("stateOperators", []):
                line.setdefault("state", []).append({
                    k: so.get(k) for k in (
                        "operatorName", "numRowsTotal", "numRowsUpdated",
                        "commitTimeMs", "stateMemory", "numShufflePartitions",
                        "allUpdatesTimeMs", "allRemovalsTimeMs",
                    )
                })
            print(json.dumps(line))


if __name__ == "__main__":
    main()
