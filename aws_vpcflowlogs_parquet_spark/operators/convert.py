"""Batch flow-log converter — the reference's entire job as one Spark plan.

Reference pipeline (convert.go:41-95 + main.go:152-196, SURVEY §3.2):
read S3 gzip lines → parse/validate → derive partition key
(date(event_time), account) → fan out to per-partition Parquet writers →
upload → register each distinct partition in the catalog via
``ALTER TABLE … ADD IF NOT EXISTS PARTITION``.

Spark-first re-expression, one declarative plan:

    read.text → parse (codegen'd expressions) → project dt/account
    → repartition('dt','account') → write.partitionBy('dt','account').parquet

Design decisions (SURVEY §4):

- **Hive layout** ``dt=YYYY-MM-DD/account=NNN/`` instead of the reference's
  ``logs/{acct}/{Y}/{M}/{D}/`` (convert.go:29-31). The reference needs
  explicit per-partition DDL (main.go:177) *because* its layout is not
  discoverable; Hive layout makes partition registration a metadata listing
  (``MSCK``-able) and enables Spark partition pruning directly.
- **repartition before write**, for layouts whose key does not include
  ``src``: the reference writes one file per (source file × partition key)
  (convert.go:86) — a small-file generator at 100 TB. Shuffling on the
  partition key first bounds output files to one per (partition,
  shuffle-task) and keeps each writer's 128 MB row-group buffer count low
  (the reference's real memory hazard, parquet.go:34). With ``src`` in the
  key the shuffle buys nothing: ``src`` hashes the input file and a gzip
  object is not splittable, so each key's rows already sit in one read
  task and the writer's local sort writes exactly one file per key.
- **Idempotence**: dynamic partition overwrite replaces exactly the
  partitions present in this batch — the scalable analogue of the
  reference's deterministic output key per source file (convert.go:86).
  ``src_partition=True`` restores the reference's *per-source-file*
  granularity (see convert_flowlogs docstring).
- **Single pass**: strict validation and the distinct partition-key set
  both ride the write job as CollectMetrics observations — the source is
  scanned exactly once (the reference also single-passes, convert.go:41-95;
  our round-1 strict probe paid a second scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import FLOW_COLUMNS, PARTITION_COLUMNS
from ..sources.flowlog import (
    FlowLogParseError,
    parse_flowlog_lines_observed,
    raise_if_malformed,
)

# per-source-file partition column (src_partition mode): short content-free
# hash of the input file path, the analogue of the reference's
# source-derived output object key (convert.go:86)
SRC_COLUMN = "src"

# partition keys as SQL text: the UTC day of the event time and the
# account (convert.go:13-27), plus the source-file hash
_PARTITION_SQL = {
    "dt": "date_format(start_time, 'yyyy-MM-dd')",
    "account": "accountid",
    SRC_COLUMN: "substring(sha2(input_file_name(), 256), 1, 12)",
}

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_PROPAGATE_EMPTY = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def partition_columns(src_partition: bool = False) -> list[str]:
    """The table's partition key: (dt, account), plus src with ``src_partition``."""
    return PARTITION_COLUMNS + [SRC_COLUMN] if src_partition else list(PARTITION_COLUMNS)


def with_partition_columns(df: DataFrame, src_partition: bool = False) -> DataFrame:
    """Parsed flow logs → table rows: the 14 data columns, then (dt,
    account[, src]) derived from event time + accountid (convert.go:13-27)
    in place of ``start_time`` — one projection."""
    return df.selectExpr(
        *FLOW_COLUMNS,
        *(f"{_PARTITION_SQL[c]} AS {c}" for c in partition_columns(src_partition)),
    )


def observe_partition_keys(
    df: DataFrame, part_cols: list[str]
) -> tuple[DataFrame, Observation]:
    """Attach the distinct partition-key set (reference pkeySet,
    main.go:153,169-172) as an observation: bounded metadata (days ×
    accounts[× src files]) that rides the write job, no second scan."""
    obs = Observation()
    return df.observe(obs, F.expr(f"collect_set(struct({', '.join(part_cols)})) AS pkeys")), obs


def observed_partition_keys(obs: Observation, part_cols: list[str]) -> list[tuple[str, ...]]:
    """The observed key set as sorted tuples, in ``part_cols`` order."""
    return sorted(tuple(r[c] for c in part_cols) for r in obs.get["pkeys"])


def write_partitioned(df: DataFrame, dst_path: str, part_cols: list[str], mode: str) -> None:
    """Partitioned snappy Parquet write; session confs restored afterwards.

    Dynamic partition overwrite replaces exactly the partitions present.
    AQE's empty-relation propagation is off: when the write's shuffle stage
    comes out empty (a header-only object, or every line malformed), that
    rule swaps the stage for an empty relation and drops the CollectMetrics
    nodes inside it, so the observations (malformed-line count, partition
    keys) would never report.
    """
    conf = df.sparkSession.conf
    prev_mode = conf.get(_OVERWRITE_MODE, "static")
    prev_rules = conf.get(_AQE_EXCLUDED_RULES, "")
    conf.set(_OVERWRITE_MODE, "dynamic")
    conf.set(_AQE_EXCLUDED_RULES, ",".join(filter(None, (prev_rules, _AQE_PROPAGATE_EMPTY))))
    try:
        df.write.mode(mode).partitionBy(*part_cols).parquet(dst_path, compression="snappy")
    finally:
        conf.set(_OVERWRITE_MODE, prev_mode)
        if prev_rules:
            conf.set(_AQE_EXCLUDED_RULES, prev_rules)
        else:
            conf.unset(_AQE_EXCLUDED_RULES)


def convert_flowlogs(
    spark: SparkSession,
    src_paths: list[str] | str,
    dst_path: str,
    strict: bool = True,
    src_partition: bool = False,
) -> list[tuple[str, ...]]:
    """Convert raw flow-log text files into the partitioned Parquet table.

    Returns the distinct partition keys written, mirroring the reference's
    result{partitionKeys} (convert.go:37-39, main.go:169-172): ``(dt,
    account)`` tuples, or ``(dt, account, src)`` with ``src_partition=True``
    so they register cleanly against the 3-level table.

    Re-run granularity (reference R14, convert.go:86): with the default
    layout, dynamic overwrite replaces the *whole* (dt, account) partition
    — re-converting one source file of a multi-file partition drops the
    other files' rows. When one partition accumulates from many source
    files over time (the S3-event handler's case; ``config_from_env``
    sets it), use ``src_partition=True``, which adds a third partition level
    ``src=<hash(source file)>`` so dynamic overwrite replaces exactly the
    re-converted file's own output — the reference's per-source-file
    idempotence, expressed as partition layout. Register such tables with
    ``register_flowlog_table(..., src_partitioned=True)``.

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
    part_cols = partition_columns(src_partition)
    # the observed key carries the FULL partition spec — with src_partition
    # the table is 3-level partitioned and ALTER TABLE rejects partial
    # (dt, account) specs, so registration needs (dt, account, src) tuples
    partitioned, key_obs = observe_partition_keys(
        with_partition_columns(parsed, src_partition), part_cols
    )
    if not src_partition:
        partitioned = partitioned.repartition(*part_cols)

    write_partitioned(partitioned, dst_path, part_cols, "overwrite")
    keys = observed_partition_keys(key_obs, part_cols)
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
    partitions: list[tuple[str, str]] | list[tuple[str, str, str]] | None = None,
    src_partitioned: bool = False,
) -> None:
    """Catalog registration (reference main.go:175-196, template.yml:116-168).

    Creates the external partitioned table if needed, then registers
    partitions. With Hive layout the bulk path is ``MSCK REPAIR`` /
    ``recoverPartitions``; the explicit ``ALTER TABLE … ADD IF NOT EXISTS
    PARTITION (…) [LOCATION …] PARTITION (…) …`` path — one statement per
    call, one clause per key — is kept for parity with the reference's DDL
    (main.go:177) and for selective registration. Keys already registered
    are skipped, so a repeated call is a no-op.

    ``partitions`` entries are ``(dt, account)`` for Hive-layout
    directories under ``location``, or ``(dt, account, path)`` to register
    an explicit ``LOCATION`` — the reference always emits one
    (main.go:177) because its ``logs/{acct}/{Y}/{M}/{D}/`` layout is not
    Hive-discoverable; the explicit form keeps parity for externally-laid-
    out tables. ``src_partitioned`` matches tables written with
    ``convert_flowlogs(..., src_partition=True)``; its entries carry the
    third key level — ``(dt, account, src)`` or ``(dt, account, src,
    path)`` — because Spark rejects partial specs against a 3-level
    table (``AnalysisException: spec (dt, account) must match (dt,
    account, src)``). Entries missing the ``src`` element fall back to
    one ``MSCK REPAIR`` for the whole table rather than failing after
    the data is already written.
    """
    part_spec = "dt STRING, account STRING" + (
        f", {SRC_COLUMN} STRING" if src_partitioned else ""
    )
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} (
          version INT, accountid STRING, interfaceid STRING,
          srcaddr STRING, dstaddr STRING, srcport INT, dstport INT,
          protocol INT, packets INT, bytes INT,
          start_ts BIGINT, end_ts BIGINT, action STRING, logstatus STRING
        )
        USING PARQUET
        PARTITIONED BY ({part_spec})
        LOCATION '{location}'
        """
    )
    if partitions is None:
        spark.sql(f"MSCK REPAIR TABLE {table}")
        return
    key_len = 3 if src_partitioned else 2
    if src_partitioned and any(len(e) < key_len for e in partitions):
        # partial specs can't register against the 3-level table; data is
        # already written, so recover everything via metadata listing
        spark.sql(f"MSCK REPAIR TABLE {table}")
        return
    # one statement per call: each entry is the reference's per-key
    # statement shape (main.go:177) as one PARTITION clause; the first
    # entry of a repeated key wins, as IF NOT EXISTS would per statement
    clauses: dict[tuple[str, ...], str] = {}
    for entry in partitions:
        key = tuple(entry[:key_len])
        spec = ", ".join(
            f"{col}='{val}'" for col, val in zip(("dt", "account", SRC_COLUMN), key)
        )
        loc = f" LOCATION '{entry[key_len]}'" if len(entry) > key_len else ""
        clauses.setdefault(key, f"PARTITION ({spec}){loc}")
    if clauses:
        spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS {' '.join(clauses.values())}")
