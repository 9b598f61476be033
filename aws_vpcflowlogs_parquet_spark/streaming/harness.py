"""The availableNow harness the catalog's streaming queries share.

Each streaming query stages its source as a directory of parquet files
(one of the ``*staged_events_dir`` layouts below), opens it as a file
stream, and drives the transformed stream to completion with
:func:`run_stream_to_parquet`: a checkpointed availableNow run into a
parquet sink, read back as the batch result. The state-partition count
is derived from the bytes in the staged directory the caller hands in,
so no state is passed between the staging and the run.
"""

from __future__ import annotations

import atexit
import datetime
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

#: every streaming temp dir this process creates, removed at exit —
#: repeated drives were accumulating source/checkpoint/sink litter in
#: $TMPDIR (ADVICE r7). In-run reuse is handled by _STAGED_DIR_CACHE.
_STREAM_TMPDIRS: list = []

#: staged source directories, shared across queries and across the
#: bench's best-of-2 reruns — the staging is pure source layout (symlink
#: + optional sentinel file), so every consumer with its own checkpoint
#: re-reads the same files independently. Keyed by (layout, sf_dir).
_STAGED_DIR_CACHE: dict = {}

#: staged source bytes per state partition (see state_partitions)
_BYTES_PER_STATE_PARTITION = 1024 * 1024


def stream_tmpdir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with process-exit cleanup registered once.

    Base dir: ``SPARK_GRAFT_STREAM_TMP`` if set, else ``/dev/shm`` when
    present/writable, else the platform default. The dirs hold per-run
    EPHEMERAL stream scratch — checkpoint WALs, state-store deltas, the
    availableNow sink — whose many tiny file creates/renames pay local-
    disk metadata latency for durability nothing reads after the run
    (every dir is deleted at process exit, and each bench rep creates
    fresh ones). A real deployment points checkpointLocation at its
    durable store explicitly — that choice is the env knob here, not a
    hard-coded path."""
    if not _STREAM_TMPDIRS:

        def _sweep():
            for p in _STREAM_TMPDIRS:
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_sweep)
    base = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if base is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _STREAM_TMPDIRS.append(d)
    return d


def staged_events_dir(sf_dir: str) -> str:
    """events.parquet staged into a directory (the file source wants a
    dir; symlink, no data copy), one per sf_dir per process."""
    key = ("plain", os.path.abspath(sf_dir))
    if key not in _STAGED_DIR_CACHE:
        src_dir = stream_tmpdir("events_src_")
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            f"{src_dir}/events.parquet",
        )
        _STAGED_DIR_CACHE[key] = src_dir
    return _STAGED_DIR_CACHE[key]


def parquet_max_ts(path: str):
    """max(ts) read from the parquet FOOTER's row-group statistics —
    metadata-only, never loads a data page (ADVICE r7: the sentinel
    staging was pulling the whole ts column to the driver)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    idx = pf.schema_arrow.get_field_index("ts")
    mx = None
    for rg in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            mx = st.max if mx is None or st.max > mx else mx
    if mx is None:  # stats suppressed (never on our writers) — fall back
        import pyarrow.compute as pc

        mx = pc.max(pq.read_table(path, columns=["ts"])["ts"]).as_py()
    return mx


def sentinel_staged_events_dir(sf_dir: str) -> str:
    """events.parquet plus ONE watermark-pusher sentinel file, staged
    for the terminating outer stream-stream joins and cached per sf_dir.

    The sentinel carries one row of EACH joined event type (purchase +
    click) on key −1 at max(ts) + 1 h: Catalyst pushes the event-type
    filter below EventTimeWatermark, so a single neutral row would feed
    only one side's watermark node (the q_stream_join_outer lesson).
    One sentinel suffices — watermarks advance BETWEEN batches, and the
    availableNow finalization runs a no-data micro-batch after the data
    batch, which evaluates state eviction under the raised watermark
    (max + 50 min, past every real row + horizon) and flushes all
    proven-unmatched rows. The earlier 3-file maxFilesPerTrigger=1
    staging paid two extra full micro-batch cycles for the same emitted
    set (measured 4.6 → 2.5 s at sf0.1).

    Kept SEPARATE from staged_events_dir: plain stream consumers must
    never see the key −1 sentinel rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = ("sentinel", os.path.abspath(sf_dir))
    if key not in _STAGED_DIR_CACHE:
        src = os.path.abspath(f"{sf_dir}/events.parquet")
        src_dir = stream_tmpdir("events_sent_src_")
        os.symlink(src, f"{src_dir}/events.parquet")
        schema = pq.read_schema(src)
        t = parquet_max_ts(src) + datetime.timedelta(hours=1)
        vals = {
            "event_id": [-2, -3],
            "ts": [t, t],
            "user_id": [-1, -1],
            "event_type": ["purchase", "click"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(vals[f.name], type=f.type) for f in schema],
                schema=schema,
            ),
            f"{src_dir}/zz_sentinel.parquet",
        )
        _STAGED_DIR_CACHE[key] = src_dir
    return _STAGED_DIR_CACHE[key]


def dup_staged_events_dir(sf_dir: str) -> str:
    """events.parquet plus a FULL +5-minute-shifted duplicate of itself
    (same event_ids, different event times) — the input shape that
    distinguishes dropDuplicatesWithinWatermark from plain
    dropDuplicates on (key, ts): the duplicates are time-skewed, so a
    composite-key dedup would keep both copies. Cached per sf_dir."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = ("dup5m", os.path.abspath(sf_dir))
    if key not in _STAGED_DIR_CACHE:
        src = os.path.abspath(f"{sf_dir}/events.parquet")
        src_dir = stream_tmpdir("events_dup_src_")
        os.symlink(src, f"{src_dir}/events.parquet")
        t = pq.read_table(src)
        shifted = t.set_column(
            t.schema.get_field_index("ts"),
            "ts",
            pc.add(t.column("ts"), pa.scalar(300_000_000, pa.duration("us"))),
        )
        pq.write_table(shifted, f"{src_dir}/dups_plus5m.parquet")
        _STAGED_DIR_CACHE[key] = src_dir
    return _STAGED_DIR_CACHE[key]


def late_staged_events_dir(sf_dir: str) -> tuple[str, int]:
    """events split into THREE mtime-ordered files so an availableNow +
    maxFilesPerTrigger=1 run produces genuine late-data drops:

    - batch 0: the even event_ids (sets the watermark W1 = max even ts
      − 30 min that batch 2 will filter against);
    - batch 1: one sentinel row at max(ts) + 2 h on user −1 (raises the
      EVICTION watermark for batch 2 so every real window flushes, while
      the LATE FILTER for batch 2 still uses W1 — the filter lags the
      eviction by one batch, see q_stream_late_data);
    - batch 2: the odd event_ids — every odd row whose hour-window end
      is ≤ W1 is dropped as late, the rest aggregate and flush.

    Returns (dir, W1_us). Cached per sf_dir."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = ("late3", os.path.abspath(sf_dir))
    if key not in _STAGED_DIR_CACHE:
        src = os.path.abspath(f"{sf_dir}/events.parquet")
        src_dir = stream_tmpdir("events_late_src_")
        t = pq.read_table(src)
        even = pc.equal(pc.bit_wise_and(t.column("event_id"), 1), 0)
        schema = t.schema
        sent_ts = parquet_max_ts(src) + datetime.timedelta(hours=2)
        sent_vals = {
            "event_id": [-100],
            "ts": [sent_ts],
            "user_id": [-1],
            "event_type": ["click"],
            "value": [0.0],
            "props": ["{}"],
        }
        files = [
            ("events.parquet", t.filter(even)),
            (
                "b_watermark_pusher.parquet",
                pa.Table.from_arrays(
                    [
                        pa.array(sent_vals[f.name], type=f.type)
                        for f in schema
                    ],
                    schema=schema,
                ),
            ),
            ("c_late_odds.parquet", t.filter(pc.invert(even))),
        ]
        base = 1_700_000_000  # any fixed epoch; only the ORDER matters
        for i, (name, tab) in enumerate(files):
            p = f"{src_dir}/{name}"
            pq.write_table(tab, p)
            os.utime(p, (base + 10 * i, base + 10 * i))
        w1 = (
            pc.max(t.filter(even).column("ts")).cast(pa.int64()).as_py()
            - 1_800_000_000
        )
        _STAGED_DIR_CACHE[key] = (src_dir, w1)
    return _STAGED_DIR_CACHE[key]


def state_partitions(src_dir: str, floor: int, cores: int) -> int:
    """State-partition count for a stream over the staged ``src_dir``,
    SCALE-ADAPTIVE (guide §2 "derive from input size / cores, don't tune
    a constant"): ``floor`` scaled by the staged bytes at ~1 MiB of
    source per state partition, capped at ``cores``.

    The floor is 2 for JVM-state operators and 6 for the four
    applyInPandasWithState queries — r13 interleaved 4-rep A/Bs: the
    join family reads 3.1-3.3 s at 6 partitions vs 2.5-2.6 s at 2
    (symmetricHashJoin commits 4 stores per partition per side, the
    dominant term in the micro-batch profile), while the Python-stateful
    family NEEDS the partitions for addBatch parallelism (funnel
    2.2→2.6 s, stateful 2.7→3.3 s when forced to 2; 12/24 re-measured no
    better than 6 — the r7 negative result re-confirmed). The size term
    is from the sf1 spot-bench, where the ranking INVERTS (ssj medians
    8.2/5.8/4.5 s at 2/6/12 partitions on a 12.3 MB 10× source) — a
    constant tuned at sf0.1 would be a local-mode trap; ~1 MiB of source
    per partition reproduces both measured optima (sf0.1 2 MB → 2, sf1
    12.3 MB → 12)."""
    src_bytes = sum(
        os.path.getsize(os.path.join(src_dir, name))
        for name in os.listdir(src_dir)
    )
    return min(cores, max(floor, src_bytes // _BYTES_PER_STATE_PARTITION))


def run_stream_to_parquet(
    spark: SparkSession,
    df: DataFrame,
    src_dir: str,
    tag: str,
    mode: str,
    state_parts: int = 2,
    nodata: bool = True,
) -> DataFrame:
    """Drive a streaming frame read from the staged ``src_dir`` to
    completion (availableNow) into a temp parquet sink and return the
    batch result.

    A parquet sink, not a memory sink: memory sinks buffer the whole
    result on the driver (GC pressure that outlives the query); the
    parquet sink is the production shape — bounded driver memory,
    executors write in parallel. Append-mode streams use the native file
    sink (exactly-once via the checkpoint + file log); complete-/update-
    mode aggregations go through foreachBatch overwrite (the file sink is
    append-only and cannot re-emit or revise results; overwrite-per-batch
    is correct here because availableNow over one staged file is a single
    batch).

    The number of state-store partitions is fixed forever at checkpoint
    creation from ``spark.sql.shuffle.partitions`` (AQE never re-plans
    streams), so it must be chosen deliberately, not inherited from the
    batch posture: each state partition costs an HDFSBackedStateStore
    instance plus per-batch delta/commit files, so over-partitioning a
    modest-cardinality stream multiplies filesystem traffic (~2× on this
    harness, measured 32 → 6 partitions; re-measured in r7 specifically
    for the Python-stateful entries on the theory that more partitions
    would parallelize the Arrow/Python work — negative result: 16 and 32
    partitions were net SLOWER than 6 across q_stream_cep /
    q_stream_stateful / q_stream_time_bucket, the state-file traffic
    outweighing the extra parallelism at this key cardinality). The
    count is :func:`state_partitions` of ``src_dir`` with ``state_parts``
    as its floor.
    """
    out_dir = stream_tmpdir(f"{tag}_out_")
    ckpt = stream_tmpdir(f"{tag}_ckpt_")
    batch_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prior_retain = spark.conf.get("spark.sql.streaming.minBatchesToRetain")
    parts = state_partitions(
        src_dir, state_parts, spark.sparkContext.defaultParallelism
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # Checkpoint GC retention, not semantics: the default keeps 100
    # batches of offset/commit/state files alive, which for these
    # single-batch availableNow runs is pure metadata churn (~0.12 s per
    # query measured at sf0.1). Long-lived production streams should keep
    # a real retention window for rollback.
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    # pinned, not assumed: the outer stream-stream joins rely on the
    # availableNow no-data finalization batch to evaluate state eviction
    # under the post-data watermark and flush proven-unmatched rows
    # (see sentinel_staged_events_dir) — a session that disabled
    # no-data micro-batches would silently drop every null row.
    # ``nodata=False`` is passed ONLY by queries whose finalization batch
    # provably emits nothing — the INNER stream-stream join (matches emit
    # in the data batch; the extra batch only discards state the process
    # is about to drop) and the append-mode dedup (rows emit on first
    # sight) — measured 1.0-1.4 s / 0.3-0.5 s per run of pure overhead
    # (r13 micro-batch profile: numRowsUpdated=0 in every such batch).
    prior_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if nodata else "false",
    )
    try:
        if mode in ("complete", "update"):
            q = (
                df.writeStream.foreachBatch(
                    lambda batch, _eid: batch.coalesce(4)
                    .write.mode("overwrite")
                    .parquet(out_dir)
                )
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        else:
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
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_parts)
        spark.conf.set("spark.sql.streaming.minBatchesToRetain", prior_retain)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prior_nodata
        )
    return spark.read.parquet(out_dir)
