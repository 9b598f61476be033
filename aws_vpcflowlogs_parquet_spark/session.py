"""SparkSession factory.

Reference analogue: env/config binding (main.go:43-52, 137-150) — the engine
config object. Spark-side we centralize session tuning here so every entry
point (tests, bench, driver) gets the same posture:

- AQE on (runtime coalescing + skew-join splitting) — the 100 TB posture:
  static shuffle-partition counts are wrong at some scale; AQE re-plans.
- shuffle.partitions sized to cores for local mode (the default 200
  over-parallelizes small local runs; on a real cluster AQE coalesces up).
- Session timezone pinned to UTC: the reference derives partition dates with
  local-time `time.Unix` (flowlog.go:86, convert.go:22-24); we pin UTC so
  event-time partitioning is deployment-independent (SURVEY §7 divergence).
- Arrow enabled for the Pandas-UDF extension operators.
- Generated-class cache sized to the catalog's working set
  (``CODEGEN_CACHE_ENTRIES`` = 8,192 against Spark's 100). One pass over
  all 471 queries at sf0.01 compiles 6,185 distinct classes; Guava splits
  the bound over 4 segments, and at 100 (about 25 a segment) the
  benchmark's query pool recompiled 242-249 classes every timed round.
  At 8,192 (2,048 a segment) it recompiles 0-6, and the whole pass stays
  cached for +47 MB of JVM metaspace (213 → 260 MB after the pass).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries in Spark's generated-class cache (``CodeGenerator``'s Guava
#: cache, which splits the bound over 4 segments that each evict LRU on
#: their own). Working set measured: one pass over all 471 queries at
#: sf0.01 compiles 6,185 distinct classes, about 1,550 a segment; 8,192
#: gives each segment 2,048, room for hash skew and catalog growth.
CODEGEN_CACHE_ENTRIES = 8192

#: The runtime posture every session gets, ours or a caller's; the
#: shuffle partitions (sized to the session's cores) complete it.
POSTURE = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); read as long, converted
    # to a timestamp in sources/tables.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # dt/account/src partition values stay STRING (the reference's Glue
    # table declares them string, template.yml:122-126); inference would
    # turn dt= dirs into DATE and account= (or an all-digit src=) into LONG
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "aws-vpcflowlogs-parquet-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # 128 MB row groups — parity with the reference writer (parquet.go:34)
        .config("spark.hadoop.parquet.block.size", str(128 * 1024 * 1024))
        # scan-side partition sizing for the 100 TB posture: one task per
        # 128 MB of input, aligned with the row-group size above
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # static SQL conf: read once, when the JVM first generates code
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_posture(spark)


def ensure_session_posture(spark: SparkSession) -> SparkSession:
    """Apply the runtime posture (:data:`POSTURE` and the shuffle
    partitions) to a session: ``get_spark``'s own, and one we did not
    create — a caller may pass its own SparkSession into ``queries()``
    callables; the settings that affect result correctness (timezone) or
    plan quality (AQE) are runtime-settable and applied here.

    Static confs cannot be set here, so a driver-supplied session keeps
    Spark's defaults for them; notably ``spark.sql.codegen.cache.maxEntries``
    stays at 100 (see ``CODEGEN_CACHE_ENTRIES``) and such a session
    recompiles generated classes that ``get_spark`` sessions keep cached.

    Applied once per session object: each conf.set is a py4j roundtrip,
    and the wrapper calls this on EVERY query build (~10 ms x ~1100 timed
    builds in a full bench). Queries that tweak posture confs mid-build
    (the streaming harness, salted-join demos) all restore them in
    ``finally``, so the posture holds for the session's lifetime.
    """
    if getattr(spark, "_graft_postured", False):
        return spark
    spark._graft_postured = True
    for key, value in POSTURE.items():
        spark.conf.set(key, value)
    # size the pre-AQE shuffle fan-out to the actual core count: the 200
    # default costs real time on streaming stateful ops, which allocate one
    # state store per shuffle partition (AQE does not re-plan streams)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark
