"""The two workloads: ``ingest`` and ``query``.

Load is a closed loop with one client: the next op starts only after the
previous one returned. Each workload has an untimed warm-up that also
checks outputs, then a timed window of a fixed number of whole rounds,
then the checks that need the window's results.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb

from datagen import FlowTraffic
from layers import (
    CpuClock, Job, JobLog, Py4JCounter, StreamCapture, Tracer, job_totals, progress_totals,
    reference_cpu_s, state_totals,
)
from pools import HEAVY

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@dataclass
class Op:
    """One timed op and what was measured around it."""

    kind: str  # "query", "event" or "stream"
    name: str
    start: float
    end: float
    ok: bool = True
    family: str = ""
    #: phase name -> (start, end) epoch seconds, direct children of the op
    phases: dict = field(default_factory=dict)
    #: job-group tags of this op's phases -> phase name
    groups: dict = field(default_factory=dict)
    jobs: dict = field(default_factory=dict)  # phase -> list[Job]
    layers: dict = field(default_factory=dict)
    rows: int = 0  # input rows the op processed
    cpu: float = 0.0  # CPU seconds the program used during the op (CpuClock)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Context:
    """Session plus the instruments one run uses."""

    def __init__(self, spark, work: str, data_dir: str, trace: bool, corrupt: bool):
        self.spark = spark
        self.work = work
        self.data_dir = data_dir
        self.trace = trace
        self.corrupt = corrupt
        self.jobs = JobLog(spark)
        self.py4j = Py4JCounter(spark)
        self.cpu = CpuClock(spark)
        self.streams = StreamCapture()
        self.tracer = Tracer()
        self.ops: list[Op] = []
        self.ref_s: list[float] = []  # reference_cpu_s() after each timed op
        self.attempted = 0
        self.failed = 0
        self.warmup_s = 0.0  # Spark time of the untimed warm-up ops
        self.trace_s = 0.0  # time spent reading counters after ops
        self._n = 0

    def tag(self, phase: str) -> str:
        return f"perfbench-op{self._n}-{phase}"

    def next_op(self) -> None:
        self._n += 1

    @contextmanager
    def phase(self, op: Op, name: str):
        """Time one phase of ``op`` under its own job group."""
        group = self.tag(name)
        op.groups[group] = name
        self.spark.sparkContext.setJobGroup(group, f"{op.name}:{name}")
        t0 = time.time()
        try:
            yield
        finally:
            op.phases[name] = (t0, time.time())

    def warm_reference(self) -> None:
        """Run the reference kernel until the JVM has compiled it, before
        the window, so every reading in the window is of compiled code."""
        for _ in range(5):
            reference_cpu_s(self.spark, self.cpu)

    def untimed(self, op: Op) -> None:
        """Count a warm-up op: attempted, checked, its time is set-up."""
        self.attempted += 1
        self.failed += not op.ok
        self.warmup_s += op.wall
        _log(f"warm-up {op.name}: {op.wall:.3f} s{'' if op.ok else ' FAILED'}")
        self.next_op()

    def record(self, op: Op) -> None:
        """Count the op, attach its Spark jobs (traced runs) and keep it."""
        self.attempted += 1
        self.failed += not op.ok
        self.ops.append(op)
        self.ref_s.append(reference_cpu_s(self.spark, self.cpu))
        _log(
            f"op {op.name}: {op.wall:.3f} s, {op.cpu:.3f} CPU s, {op.rows} rows, "
            f"reference {self.ref_s[-1]:.4f} s{'' if op.ok else ' FAILED'}"
        )
        if self.trace:
            t0 = time.time()
            attribute_jobs([op], self.jobs.new_jobs())
            self.trace_s += time.time() - t0
        self.next_op()


def attribute_jobs(ops: list[Op], jobs: list[Job]) -> None:
    """Assign each job to the op phase whose group it carries; jobs of
    other groups (streaming queries run theirs under their ``runId``) go
    to the phase whose time window contains their submission."""
    by_group = {g: (op, ph) for op in ops for g, ph in op.groups.items()}
    for j in jobs:
        hit = by_group.get(j.group)
        if hit is None:
            t = j.start_ms / 1000.0
            for op in ops:
                for ph, (s, e) in op.phases.items():
                    if s <= t <= e:
                        hit = (op, ph)
                        break
                if hit:
                    break
        if hit is not None:
            op, ph = hit
            op.jobs.setdefault(ph, []).append(j)


def _canon(v):
    if v is None:
        return "\0null"
    if isinstance(v, float):
        return "\0nan" if math.isnan(v) else v.hex()
    return str(v)


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def results_match(s_cols, s_rows, d_cols, d_rows) -> str:
    """The catalog's oracle contract: column names, row count, and a hash
    of the order-insensitive canonical values. Returns "" when they agree."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} != {len(d_rows)}"
    digest = lambda rows: hashlib.sha256(repr(rows).encode()).hexdigest()  # noqa: E731
    if digest(_canon_rows(s_cols, s_rows)) != digest(_canon_rows(d_cols, d_rows)):
        return "value hash differs"
    return ""


_T0 = time.time()


def _log(msg: str) -> None:
    print(f"perfbench: [{time.time() - _T0:6.1f} s] {msg}", flush=True)


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_queries(ctx: Context, names: list[str], queries: dict, oracles: dict) -> set[str]:
    """Untimed warm-up pass: run each query once, compare it with its
    DuckDB oracle. Returns the names whose result is wrong."""
    con = duck_views(ctx.data_dir)
    bad = set()
    try:
        for name in names:
            t0 = time.time()
            try:
                df = queries[name](ctx.spark, ctx.data_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — a failing query is a result
                _log(f"check {name}: raised {type(exc).__name__}: {str(exc)[:300]}")
                bad.add(name)
                continue
            finally:
                ctx.spark.catalog.clearCache()
                ctx.warmup_s += time.time() - t0
                _log(f"check {name}: ran in {time.time() - t0:.2f} s")
            if ctx.corrupt and name == names[0]:
                rows = rows[:-1] if rows else [("corrupt",)]
            res = con.execute(oracles[name])
            why = results_match(cols, rows, [d[0] for d in res.description], res.fetchall())
            if why:
                _log(f"check {name}: WRONG ({why})")
                bad.add(name)
    finally:
        con.close()
    ctx.attempted += len(names)
    ctx.failed += len(bad)
    return bad


def run_query(ctx: Context, name: str, queries: dict, wrong: set[str]) -> None:
    """One op: build ``name`` and execute it into the noop sink."""
    spark = ctx.spark
    op = Op("query", name, 0.0, 0.0, family=HEAVY.get(name, "catalog"))
    cpu0 = ctx.cpu.read()
    op.start = time.time()
    try:
        with ctx.phase(op, "build"):
            if ctx.trace:
                with ctx.streams.capturing(), ctx.py4j.counting():
                    df = queries[name](spark, ctx.data_dir)
                op.layers["py4j_calls"] = ctx.py4j.counted
                if ctx.streams.started:
                    op.layers["streams"] = state_totals(ctx.streams.progress())
            else:
                df = queries[name](spark, ctx.data_dir)
        with ctx.phase(op, "exec"):
            df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
        _log(f"op {name}: raised {type(exc).__name__}: {str(exc)[:300]}")
        op.ok = False
    op.end = time.time()
    op.cpu = ctx.cpu.read() - cpu0
    op.ok = op.ok and name not in wrong
    spark.catalog.clearCache()
    ctx.record(op)


def query_workload(ctx: Context, check: list[str], timed: list[str], rounds: int) -> dict:
    """The check pass is the untimed warm-up: every query runs once before
    it is timed. Then ``rounds`` timed rounds."""
    from aws_vpcflowlogs_parquet_spark.plans.catalog import ORACLES, QUERIES

    wrong = check_queries(ctx, check, QUERIES, ORACLES)
    ctx.warm_reference()
    ctx.jobs.mark()
    for name in timed * rounds:
        run_query(ctx, name, QUERIES, wrong)
    if not ctx.trace:
        attribute_jobs(ctx.ops, ctx.jobs.new_jobs())
    for op in ctx.ops:
        op.rows = sum(job_totals(js)["input_records"] for js in op.jobs.values())
    return {"rounds": rounds}


# ---------------------------------------------------------------------------
# Ingest workload
# ---------------------------------------------------------------------------


def _src_key(path: str) -> str:
    """The converter's per-object partition value: sha2 of the input URI."""
    return hashlib.sha256(f"file://{path}".encode()).hexdigest()[:12]


def _truth(objs) -> dict:
    out: dict = {}
    for o in objs:
        for key, (n, b) in o.truth.items():
            cell = out.setdefault(key, [0, 0])
            cell[0] += n
            cell[1] += b
    return out


class Ingest:
    """Drives S3-style events through ``handler.run_event``, each followed
    by an Athena-style query on the registered table, then drains the same
    objects through ``convert_stream.start_flowlog_stream``."""

    def __init__(self, ctx: Context):
        from aws_vpcflowlogs_parquet_spark import handler

        self.ctx = ctx
        self.handler = handler

    @contextmanager
    def timed_layers(self, op: Op):
        """Traced runs: time the converter calls ``run_event`` makes."""
        if not self.ctx.trace:
            yield
            return
        h = self.handler
        originals = {n: getattr(h, n) for n in ("convert_flowlogs", "register_flowlog_table")}

        def wrap(name, fn):
            def timed(*args, **kwargs):
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    op.layers.setdefault("calls", []).append((name, t0, time.time()))
            return timed

        for n, fn in originals.items():
            setattr(h, n, wrap(n, fn))
        try:
            yield
        finally:
            for n, fn in originals.items():
                setattr(h, n, fn)

    def run_round(self, k: int, traffic: FlowTraffic, n_events: int, timed: bool) -> tuple[str, str]:
        ctx, spark = self.ctx, self.ctx.spark
        dst = os.path.join(ctx.work, f"table_r{k}")
        table = f"flowlogs_r{k}"
        config = self.handler.HandlerConfig(dst_path=dst, table=table, strict=True, src_partition=True)
        seen = []
        for i in range(n_events):
            objs = traffic.events[i]
            seen.extend(objs)
            op = Op("event", f"round{k}-event{i}", 0.0, 0.0)
            op.rows = sum(o.rows for o in objs)
            before = _parquet_files(dst) if ctx.trace else {}
            cpu0 = ctx.cpu.read()
            op.start = time.time()
            try:
                with self.timed_layers(op), ctx.phase(op, "run_event"):
                    self.handler.run_event(spark, traffic.s3_event(i), config)
                if ctx.corrupt and i == 0:
                    os.remove(sorted(_parquet_files(dst))[0])
                with ctx.phase(op, "table_query"):
                    op.ok = self._table_query(table, i, objs, seen)
            except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
                _log(f"op {op.name}: raised {type(exc).__name__}: {str(exc)[:300]}")
                op.ok = False
            op.end = time.time()
            op.cpu = ctx.cpu.read() - cpu0
            if ctx.trace:
                after = _parquet_files(dst)
                new = set(after) - set(before)
                op.layers["files_written"] = len(new)
                op.layers["bytes_written_mb"] = sum(after[f] for f in new) / 2**20
            (ctx.record if timed else ctx.untimed)(op)
        return dst, table

    def _table_query(self, table: str, i: int, objs, seen) -> bool:
        """Partition-pruned query on even events, full scan on odd ones;
        the answer must equal the generator's ground truth."""
        spark = self.ctx.spark
        truth = _truth(seen)
        if i % 2 == 0:
            dt, account = sorted(objs[0].truth)[0]
            row = spark.sql(
                f"SELECT count(*) AS n, coalesce(sum(bytes), 0) AS b FROM {table} "
                f"WHERE dt = '{dt}' AND account = '{account}'"
            ).collect()[0]
            ok = [row["n"], row["b"]] == truth[(dt, account)]
        else:
            rows = spark.sql(
                f"SELECT dt, account, count(*) AS n, sum(bytes) AS b FROM {table} GROUP BY dt, account"
            ).collect()
            ok = {(r["dt"], r["account"]): [r["n"], r["b"]] for r in rows} == truth
        if not ok:
            _log(f"table query after event {i} of {table}: WRONG")
        return ok

    def check_round(self, traffic: FlowTraffic, n_events: int, dst: str, table: str) -> bool:
        """Independent checks after the window: a DuckDB read of the gzip
        text against the registered table, and the partition set."""
        objs = [o for ev in traffic.events[:n_events] for o in ev]
        duck = _duck_flowlog_cells([o.path for o in objs])
        rows = self.ctx.spark.sql(
            f"SELECT dt, account, count(*) AS n, sum(bytes) AS b FROM {table} GROUP BY dt, account"
        ).collect()
        spark_cells = {(r["dt"], r["account"]): [r["n"], r["b"]] for r in rows}
        ok = True
        if duck != spark_cells or duck != _truth(objs):
            _log(f"{table}: per-(dt, account) rows/bytes differ from the DuckDB read of the source")
            ok = False
        expected = {
            f"dt={dt}/account={acct}/src={_src_key(o.path)}" for o in objs for dt, acct in o.truth
        }
        got = {r[0] for r in self.ctx.spark.sql(f"SHOW PARTITIONS {table}").collect()}
        if got != expected:
            _log(f"{table}: registered partitions differ ({len(got)} vs {len(expected)} expected)")
            ok = False
        return ok

    def drain_stream(self, k: int, traffic: FlowTraffic, n_events: int, timed: bool) -> Op:
        from aws_vpcflowlogs_parquet_spark.streaming.convert_stream import start_flowlog_stream

        ctx = self.ctx
        objs = [o for ev in traffic.events[:n_events] for o in ev]
        src = os.path.join(ctx.work, f"stream_src{k}")
        for o in objs:  # the drop directory the stream watches
            os.makedirs(src, exist_ok=True)
            os.link(o.path, os.path.join(src, os.path.relpath(o.path, traffic.bucket).replace("/", "_")))
        dst = os.path.join(ctx.work, f"stream_out{k}")
        op = Op("stream", f"stream{k}", 0.0, 0.0)
        op.rows = sum(o.rows for o in objs)
        cpu0 = ctx.cpu.read()
        op.start = time.time()
        try:
            with ctx.phase(op, "stream"):
                q = start_flowlog_stream(ctx.spark, src, dst, os.path.join(ctx.work, f"ckpt{k}"))
                op.groups[str(q.runId)] = "stream"  # the stream's jobs run under its runId
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            op.end = time.time()
            op.cpu = ctx.cpu.read() - cpu0
            op.layers["stream"] = progress_totals(json_progress(q))
            if _duck_parquet_cells(dst) != _truth(objs):
                _log(f"stream {k}: per-(dt, account) rows/bytes differ from the source")
                op.ok = False
        except Exception as exc:  # noqa: BLE001 — counted
            _log(f"stream {k}: raised {type(exc).__name__}: {str(exc)[:300]}")
            op.ok = False
            op.end = op.end or time.time()
        (ctx.record if timed else ctx.untimed)(op)
        return op


def json_progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _parquet_files(root: str) -> dict[str, int]:
    return {
        p: os.path.getsize(p) for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    }


def _duck_flowlog_cells(paths: list[str]) -> dict:
    """Rows and bytes per (dt, account) straight from the gzip text. The
    day comes from ``make_timestamp``, a timestamp without time zone, so it
    is the UTC day whatever the host's zone (``to_timestamp`` would format
    in the session's zone)."""
    cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(14))
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT strftime(make_timestamp(CAST(c10 AS BIGINT) * 1000000), '%Y-%m-%d') AS dt,
                   c1 AS account, count(*) AS n,
                   sum(COALESCE(TRY_CAST(c9 AS BIGINT), 0)) AS b
            FROM read_csv({files}, delim=' ', header=false, columns={{{cols}}},
                          compression='gzip', quote='', escape='')
            WHERE c0 = '2'
            GROUP BY ALL
            """
        ).fetchall()
    finally:
        con.close()
    return {(dt, a): [n, int(b)] for dt, a, n, b in rows}


def _duck_parquet_cells(root: str) -> dict:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT dt, account, count(*), sum(bytes)
            FROM read_parquet('{root}/**/*.parquet', hive_partitioning = true,
                              hive_types_autocast = false)
            GROUP BY ALL
            """
        ).fetchall()
    finally:
        con.close()
    return {(str(dt), str(a)): [n, int(b)] for dt, a, n, b in rows}


#: Untimed rounds before the window: every event size and the two-day path
#: run before it is timed. A second warm-up round was tried and left out: it
#: lowered op cost by about 10% but did not narrow the spread across runs,
#: which comes from the host's speed, the same in every round of a run.
WARM_ROUNDS = 1
#: Events of the first warm-up round whose objects warm the stream drain.
WARM_STREAM_EVENTS = 3


def ingest_workload(ctx: Context, traffic: list[FlowTraffic]) -> dict:
    """The first ``WARM_ROUNDS`` rounds warm up; the rest are timed, each
    round into a fresh table. Traced runs then drain the first timed
    round's objects through the streaming converter, once untimed to warm
    it and once timed; the drain reports only per-layer metrics, so
    untraced runs skip it."""
    ing = Ingest(ctx)
    for k in range(WARM_ROUNDS):
        ing.run_round(k, traffic[k], len(traffic[k].events), timed=False)
    ctx.warm_reference()
    ctx.jobs.mark()
    done = []
    for k, tr in enumerate(traffic[WARM_ROUNDS:], start=WARM_ROUNDS):
        n = len(tr.events)
        done.append((k, tr, n, *ing.run_round(k, tr, n, timed=True)))
    if ctx.trace:
        ing.drain_stream(0, traffic[0], WARM_STREAM_EVENTS, timed=False)
        ctx.jobs.mark()
        first = traffic[WARM_ROUNDS]
        ing.drain_stream(1, first, len(first.events), timed=True)
    for k, tr, n, dst, table in done:
        if not ing.check_round(tr, n, dst, table):
            bad = [op for op in ctx.ops if op.name.startswith(f"round{k}-") and op.ok]
            for op in bad:
                op.ok = False
            ctx.failed += len(bad)
        shutil.rmtree(dst, ignore_errors=True)
    return {"rounds": len(done)}
