"""The reference's Lambda handler as one composition (main.go:67-85,137-196).

Reference flow: env config + event → ``createArgs`` (main.go:137-150) →
``handler`` (main.go:152-196): per-target convert, union the partition-key
set, then register it in the catalog (the reference: one DDL per key;
here: one statement per call). This module binds the same surface onto
the Spark pieces:

    targets_from_event (sources/events.py)      ← recordToTarget
    convert_flowlogs   (operators/convert.py)   ← convert()
    register_flowlog_table (operators/convert.py) ← Athena ALTER TABLE

One difference by design: the reference converts targets one at a time in a
driver loop (main.go:155-168); ``run_event`` hands the whole target list to
one Spark job, so a multi-record event parallelizes across the cluster
instead of serializing on the driver. The partition-key union the reference
builds in ``pkeySet`` falls out of the job's key observation.

Env binding (main.go:138): S3_BUCKET/S3_PREFIX name the destination,
ATHENA_DATABASE_NAME/ATHENA_TABLE_NAME the catalog table. S3_REGION and
CHECK_QUERY_RESULT have no Spark analogue (the S3A connector resolves
regions; ``spark.sql`` DDL is synchronous — SURVEY §2.1 R18).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from .operators.convert import convert_flowlogs, register_flowlog_table
from .sources.events import targets_from_event
from .sources.flowlog import FlowLogParseError


@dataclass(frozen=True)
class HandlerConfig:
    """Destination + catalog posture (reference Arguments, main.go:22-37)."""

    dst_path: str  # s3a://{S3_BUCKET}/{S3_PREFIX} or any Hadoop-FS path
    table: str = ""  # {ATHENA_DATABASE_NAME}.{ATHENA_TABLE_NAME}; "" = skip DDL
    strict: bool = True
    # The table is always partitioned by (dt, account, src): one event's
    # conversion never touches another object's rows. The field stays so
    # existing callers that pass True keep working; it is read nowhere.
    src_partition: bool = True

    def __post_init__(self) -> None:
        if not self.src_partition:
            raise ValueError(
                "src_partition=False asked for the removed 2-level (dt, account) "
                "layout, whose overwrite dropped earlier objects' rows; the table "
                "is always partitioned by (dt, account, src)"
            )


def config_from_env(env: dict[str, str] | None = None) -> HandlerConfig:
    """Bind HandlerConfig from the reference's env vars (main.go:138)."""
    env = os.environ if env is None else env
    bucket = env.get("S3_BUCKET", "")
    prefix = env.get("S3_PREFIX", "").strip("/")
    if not bucket:
        raise ValueError("S3_BUCKET is required (reference main.go:138)")
    dst = f"s3a://{bucket}/{prefix}" if not bucket.startswith("/") else (
        f"{bucket}/{prefix}" if prefix else bucket
    )
    table = env.get("ATHENA_TABLE_NAME", "")
    db = env.get("ATHENA_DATABASE_NAME", "")
    return HandlerConfig(
        dst_path=dst.rstrip("/"),
        table=f"{db}.{table}" if db and table else table,
    )


def run_event(
    spark: SparkSession, event: dict | str, config: HandlerConfig
) -> list[tuple[str, str, str]]:
    """Event → convert → register: the whole reference job, end to end.

    Returns the distinct ``(dt, account, src)`` partition keys written,
    one ``src`` per source object. Events with no interpretable records
    are a no-op, not an error (main.go:119-123), and so are objects with
    no data rows (header only): nothing is written and nothing is
    registered.

    Strict mode is single-pass (convert_flowlogs docstring): a parse error
    surfaces AFTER the write, so the failing batch's valid rows are already
    on disk. To keep that partial state queryable rather than invisible,
    the keys the write observed are registered in the catalog *before* the
    error propagates; the corrected re-run overwrites the same partitions
    idempotently.
    """
    targets = targets_from_event(event)
    if not targets:
        return []
    try:
        keys = convert_flowlogs(
            spark, [t.path for t in targets], config.dst_path, strict=config.strict
        )
    except FlowLogParseError as err:
        written = getattr(err, "partition_keys", None)
        if config.table and written:
            register_flowlog_table(spark, config.table, config.dst_path, partitions=written)
        raise
    if config.table and keys:
        register_flowlog_table(spark, config.table, config.dst_path, partitions=keys)
    return keys

