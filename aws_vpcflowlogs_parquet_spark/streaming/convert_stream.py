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

from ..operators.convert import write_flowlog_partitions
from ..sources.flowlog import parse_flowlog_lines

#: files per micro-batch: the reference's reserved concurrency of 5
#: Lambdas (template.yml:61-62)
MAX_FILES_PER_TRIGGER = 5


def start_flowlog_stream(
    spark: SparkSession, src_dir: str, dst_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Watch ``src_dir`` for flow-log text files; convert each micro-batch
    of up to ``MAX_FILES_PER_TRIGGER`` files into the table at
    ``dst_path``. The stream registers nothing: ``register`` (one ``MSCK
    REPAIR``) makes its partitions visible in the catalog."""
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(src_dir)
    )
    parsed = parse_flowlog_lines(lines)

    def write_batch(batch_df, epoch_id: int) -> None:
        write_flowlog_partitions(batch_df, dst_path)

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
