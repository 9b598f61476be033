"""Streaming flow-log converter — the reference's Lambda-per-event loop
(main.go:67-85, SURVEY §3.1) as one long-lived Structured Streaming query.

Reference posture: one Lambda invocation per S3 notification, concurrency
capped at 5 (template.yml:35-37,61-62), errors swallowed → **at-most-once**
(main.go:77-83). Spark-first posture: a file-source streaming query over
the drop directory with ``maxFilesPerTrigger`` as the concurrency analogue.
Exactly-once needs a replayable source and an idempotent sink: the
checkpoint's offset log replays a micro-batch whose commit was lost with
the same files, and the sink overwrites each file's own ``src`` partitions,
so the replay rewrites the rows it already wrote instead of adding a
second copy — a deliberate upgrade documented in SURVEY §7.

The per-batch body is the batch converter's write body
(``operators.convert.write_flowlog_partitions``), so batch and
streaming cannot drift semantically — the Kappa-architecture property
Structured Streaming is built around.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.convert import register_flowlog_table, write_flowlog_partitions
from ..sources.flowlog import parse_flowlog_lines


def start_flowlog_stream(
    spark: SparkSession,
    src_dir: str,
    dst_path: str,
    checkpoint_dir: str,
    table: str | None = None,
    max_files_per_trigger: int = 5,
) -> StreamingQuery:
    """Watch ``src_dir`` for flow-log text files; convert each micro-batch.

    ``max_files_per_trigger=5`` mirrors the reference's reserved
    concurrency of 5 Lambdas (template.yml:61-62). Partition registration
    (the reference's per-key ALTER TABLE, main.go:175-196) happens inside
    ``foreachBatch`` through the batch converter's
    :func:`register_flowlog_table` — one statement per micro-batch, the
    table created at ``dst_path`` if missing — when ``table`` is given.
    """
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src_dir)
    )
    parsed = parse_flowlog_lines(lines)

    def write_batch(batch_df, epoch_id: int) -> None:
        keys = write_flowlog_partitions(batch_df, dst_path)
        if table is not None and keys:
            register_flowlog_table(batch_df.sparkSession, table, dst_path, partitions=keys)

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
