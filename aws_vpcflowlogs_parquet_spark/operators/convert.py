"""Flow-log converter — the reference's entire job as one Spark plan.

Reference pipeline (convert.go:41-95 + main.go:152-196, SURVEY §3.2):
read S3 gzip lines → parse/validate → derive partition key
(date(event_time), account) → fan out to per-partition Parquet writers →
upload → register each distinct partition in the catalog via
``ALTER TABLE … ADD IF NOT EXISTS PARTITION``.

Spark-first re-expression, one declarative plan:

    read.text → parse (codegen'd expressions) → project dt/account/src
    → write.partitionBy('dt','account','src').parquet (dynamic overwrite)

Design decisions (SURVEY §4):

- **Hive layout** ``dt=YYYY-MM-DD/account=NNN/src=HHHHHHHHHHHH/`` instead
  of the reference's ``logs/{acct}/{Y}/{M}/{D}/`` (convert.go:29-31). The
  reference needs explicit per-partition DDL (main.go:177) *because* its
  layout is not discoverable; Hive layout makes partition registration a
  metadata listing (``MSCK``-able) and lets ``dt``/``account`` filters
  prune partitions directly.
- **One layout, keyed by source object**: the reference writes one output
  object per source file (convert.go:86); ``src`` (a hash of the input
  file) is that key as a partition level. Dynamic partition overwrite then
  replaces exactly the re-converted objects' own output: a re-run is
  idempotent and never touches rows of other objects in the same
  (dt, account). No shuffle before the write: a gzip object is not
  splittable, so each key's rows already sit in one read task and the
  writer's local sort writes one file per key.
- **One write body** (:func:`write_flowlog_partitions`): the batch
  converter and the streaming converter's ``foreachBatch`` run the same
  projection, key observation and overwrite, so a replayed micro-batch
  rewrites its own partitions instead of appending a second copy.
- **Single pass**: strict validation and the distinct partition-key set
  both ride the write job as CollectMetrics observations — the source is
  scanned exactly once (the reference also single-passes, convert.go:41-95;
  our round-1 strict probe paid a second scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import FLOW_COLUMNS, FLOW_SCHEMA, PARTITION_COLUMNS
from ..sources.flowlog import (
    FlowLogParseError,
    parse_flowlog_lines_observed,
    raise_if_malformed,
)

# partition keys as SQL text: the UTC day of the event time, the account
# (convert.go:13-27) and a short content-free hash of the input file, the
# analogue of the reference's source-derived output object key
# (convert.go:86)
_PARTITION_SQL = {
    "dt": "date_format(start_time, 'yyyy-MM-dd')",
    "account": "accountid",
    "src": "substring(sha2(input_file_name(), 256), 1, 12)",
}

def table_rows(df: DataFrame) -> DataFrame:
    """Parsed flow logs → table rows: the 14 data columns, then (dt,
    account, src) derived from event time, accountid and the input file
    (convert.go:13-27,86) in place of ``start_time`` — one projection."""
    return df.selectExpr(
        *FLOW_COLUMNS, *(f"{_PARTITION_SQL[c]} AS {c}" for c in PARTITION_COLUMNS)
    )


def observe_partition_keys(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the distinct partition-key set (reference pkeySet,
    main.go:153,169-172) as an observation: bounded metadata (days ×
    accounts × source files) that rides the write job, no second scan."""
    obs = Observation()
    keys = ", ".join(PARTITION_COLUMNS)
    return df.observe(obs, F.expr(f"collect_set(struct({keys})) AS pkeys")), obs


def write_flowlog_partitions(parsed: DataFrame, dst_path: str) -> list[tuple[str, str, str]]:
    """The one write body of the batch and streaming converters.

    Projects (dt, account, src), writes partitioned snappy Parquet with
    dynamic partition overwrite — exactly the partitions present are
    replaced, so a re-run of the same objects rewrites their own output —
    and returns the distinct keys the write observed as sorted
    ``(dt, account, src)`` tuples. The overwrite mode is a write option,
    so the session's own setting is never touched.
    """
    rows, obs = observe_partition_keys(table_rows(parsed))
    (
        rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLUMNS)
        .parquet(dst_path, compression="snappy")
    )
    return sorted(tuple(r[c] for c in PARTITION_COLUMNS) for r in obs.get["pkeys"])


def convert_flowlogs(
    spark: SparkSession,
    src_paths: list[str] | str,
    dst_path: str,
    strict: bool = True,
) -> list[tuple[str, str, str]]:
    """Convert raw flow-log text files into the partitioned Parquet table.

    Returns the distinct partition keys written as ``(dt, account, src)``
    tuples, mirroring the reference's result{partitionKeys}
    (convert.go:37-39, main.go:169-172); they register as they are with
    :func:`register_flowlog_table`.

    Re-run granularity is the source object (reference R14,
    convert.go:86): re-converting one file replaces exactly that file's
    output and leaves the rows of every other file in the same
    (dt, account) in place.

    Strict mode is single-pass: the malformed-line counter rides the write
    job as an observation, and the error is raised *after* the write
    (valid rows of the failing batch are already written; a re-run of the
    corrected input overwrites them idempotently). This diverges from the
    reference's write-nothing abort (convert.go:48-50) in exchange for
    not scanning 100 TB of source twice.
    """
    if isinstance(src_paths, str):
        src_paths = [src_paths]
    parsed, parse_obs = parse_flowlog_lines_observed(spark.read.text(src_paths))
    keys = write_flowlog_partitions(parsed, dst_path)
    if strict:
        try:
            raise_if_malformed(parse_obs)
        except FlowLogParseError as err:
            # Single-pass strict raises AFTER the write: valid rows of the
            # failing batch are already on disk. Attach the written keys so
            # callers (handler.run_event) can register them before
            # propagating — otherwise the partial state is invisible until
            # a corrected re-run.
            err.partition_keys = keys
            raise
    return keys


def register_flowlog_table(
    spark: SparkSession,
    table: str,
    location: str,
    partitions: list[tuple[str, str, str]] | None = None,
) -> None:
    """Catalog registration (reference main.go:175-196, template.yml:116-168).

    Creates the external table partitioned by (dt, account, src) at
    ``location`` if needed, then registers partitions. ``partitions=None``
    recovers every partition directory with one ``MSCK REPAIR``. Otherwise
    each ``(dt, account, src)`` key, as :func:`convert_flowlogs` returns
    it, becomes one clause of a single ``ALTER TABLE … ADD IF NOT EXISTS
    PARTITION (…) PARTITION (…) …`` — the reference's per-key DDL
    (main.go:177) as one statement per call. Keys already registered are
    skipped, so a repeated call is a no-op. Partition values are written
    as escaped SQL string literals: ``account`` comes from the log line.
    """
    columns = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in FLOW_SCHEMA)
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} ({columns})
        USING PARQUET
        PARTITIONED BY ({", ".join(f"{c} STRING" for c in PARTITION_COLUMNS)})
        LOCATION {_sql_string(location)}
        """
    )
    if partitions is None:
        spark.sql(f"MSCK REPAIR TABLE {table}")
        return
    clauses = dict.fromkeys(
        "PARTITION ({})".format(
            ", ".join(f"{c}={_sql_string(v)}" for c, v in zip(PARTITION_COLUMNS, key))
        )
        for key in partitions
    )
    if clauses:
        spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS {' '.join(clauses)}")


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal: backslash and quote escaped."""
    return "'{}'".format(value.replace("\\", "\\\\").replace("'", "\\'"))
