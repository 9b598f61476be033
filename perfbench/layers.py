"""Per-layer measurement from outside the program.

Everything here reads counters Spark already keeps, or times calls into
the program's public functions; nothing is added inside the program:

- ``JobLog``: jobs and stages from the application status store (it
  exists with the UI disabled), attributed to benchmark ops by job group.
  Jobs a streaming query runs carry its ``runId`` as their job group.
- ``Py4JCounter``: exact count of Python → JVM round trips (py4j calls).
- ``StreamCapture``: streaming queries a call starts, kept so their
  ``StreamingQueryProgress`` records can be read after they end.
- ``progress_totals`` and ``state_totals``: sums over those records.
- ``Tracer``: in-memory spans, written out once when the run ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

_MB = 1024 * 1024


def _ms(opt) -> float | None:
    """Scala ``Option[Date]`` (or null) → epoch milliseconds."""
    if opt is None or not opt.isDefined():
        return None
    return float(opt.get().getTime())


def flush_listeners(spark: SparkSession) -> None:
    """Wait until the listener bus has delivered every posted event, so the
    status store and stream listeners are current."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class Stage:
    stage_id: int
    start_ms: float
    end_ms: float
    tasks: int
    run_ms: int
    gc_ms: int
    deser_ms: int
    input_bytes: int
    input_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    job_id: int
    group: str
    start_ms: float
    end_ms: float
    stages: list[Stage] = field(default_factory=list)


class JobLog:
    """Jobs submitted since the last call, with the task metrics of each
    stage that ran, read from the status store."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = -1

    def mark(self) -> None:
        """Forget every job submitted so far."""
        flush_listeners(self._spark)
        jobs = self._store.jobsList(None)
        if jobs.size():
            self._seen = max(self._seen, max(jobs.apply(i).jobId() for i in range(jobs.size())))

    def new_jobs(self) -> list[Job]:
        flush_listeners(self._spark)
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen:
                continue
            start, end = _ms(j.submissionTime()), _ms(j.completionTime())
            group = j.jobGroup()
            job = Job(
                jid,
                group.get() if group.isDefined() else "",
                start if start is not None else 0.0,
                end if end is not None else (start or 0.0),
            )
            ids = j.stageIds()
            for k in range(ids.size()):
                s = self._store.lastStageAttempt(ids.apply(k))
                s_start = _ms(s.submissionTime())
                if s_start is None:  # skipped: its output was reused
                    continue
                job.stages.append(
                    Stage(
                        s.stageId(),
                        s_start,
                        _ms(s.completionTime()) or s_start,
                        s.numTasks(),
                        s.executorRunTime(),
                        s.jvmGcTime(),
                        s.executorDeserializeTime(),
                        s.inputBytes(),
                        s.inputRecords(),
                        s.shuffleReadBytes(),
                        s.shuffleWriteBytes(),
                        s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    )
                )
            out.append(job)
        if out:
            self._seen = max(self._seen, max(j.job_id for j in out))
        out.sort(key=lambda j: j.job_id)
        return out


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``(start_ms, end_ms)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def job_totals(jobs: list[Job]) -> dict[str, float]:
    stages = [s for j in jobs for s in j.stages]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "job_s": covered_s([(j.start_ms, j.end_ms) for j in jobs]),
        "task_run_s": sum(s.run_ms for s in stages) / 1000.0,
        "task_gc_s": sum(s.gc_ms for s in stages) / 1000.0,
        "task_deser_s": sum(s.deser_ms for s in stages) / 1000.0,
        "input_mb": sum(s.input_bytes for s in stages) / _MB,
        "input_records": sum(s.input_records for s in stages),
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / _MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / _MB,
        "spill_mb": sum(s.spill_bytes for s in stages) / _MB,
    }


class Py4JCounter:
    """Counts driver → JVM round trips while active (exact: every py4j
    call goes through the gateway client's ``send_command``)."""

    def __init__(self, spark: SparkSession):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.counted = 0  # calls made inside the last ``counting`` block

    @contextmanager
    def counting(self):
        client, orig = self._client, self._client.send_command
        start = self.calls

        def send_command(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        try:
            yield
        finally:
            del client.send_command
            self.counted = self.calls - start


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sums over micro-batches that read input."""
    live = [p for p in progress if p.get("numInputRows", 0) > 0]
    d = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    return {
        "batches": len(live),
        "rows": sum(p["numInputRows"] for p in live),
        "trigger_ms": sum(d(p, "triggerExecution") for p in live),
        "add_batch_ms": sum(d(p, "addBatch") for p in live),
        "commit_ms": sum(d(p, "commitOffsets") + d(p, "walCommit") for p in live),
    }


class StreamCapture:
    """Keeps the streaming queries started while active (by wrapping
    ``DataStreamWriter.start``); their progress outlives the query."""

    def __init__(self):
        self.started: list = []

    @contextmanager
    def capturing(self):
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.start
        self.started = []

        def start(writer, *args, **kwargs):
            q = orig(writer, *args, **kwargs)
            self.started.append(q)
            return q

        DataStreamWriter.start = start
        try:
            yield
        finally:
            DataStreamWriter.start = orig

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for q in self.started for p in q.recentProgress]


def state_totals(progress: list[dict]) -> dict[str, float]:
    """State-store work over every micro-batch, the no-data ones too:
    commit time summed over batches and stateful operators, and the state
    rows the operators hold after the last batch."""
    ops = lambda p: p.get("stateOperators", [])  # noqa: E731
    return {
        "batches": len(progress),
        "state_commit_ms": sum(so.get("commitTimeMs", 0) for p in progress for so in ops(p)),
        "state_rows": sum(so.get("numRowsTotal", 0) for so in ops(progress[-1])) if progress else 0,
    }


class CpuClock:
    """CPU seconds the program has run so far: the driver JVM's threads,
    this Python process (the driver's Python side) and the JVM's descendant
    processes (PySpark workers). The JVM's service threads (JIT compilers,
    garbage collectors, VM threads) are left out: how much of their work
    lands in a timed op depends on when the JVM schedules it, not on the op.
    Process CPU clocks and per-thread scheduler statistics count, to the
    nanosecond, only time a thread ran, not time it waited for a CPU that
    another tenant of the host held. A thread or process that has ended
    keeps its last reading."""

    _SERVICE = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread", "GC Thread", "G1 ", "VM ")

    def __init__(self, spark: SparkSession):
        self._jvm = spark.sparkContext._gateway.proc.pid
        self._service_ns: dict[str, int] = {}  # JVM service thread -> CPU ns
        self._app: set[str] = set()  # JVM threads that are not service threads
        self._children_s: dict[int, float] = {}  # descendant process -> CPU s

    @staticmethod
    def _clock_s(pid: int) -> float | None:
        try:  # the process CPU clock of ``pid`` (Linux, as clock_getcpuclockid)
            return time.clock_gettime(((~pid) << 3) | 2)
        except OSError:  # the process has ended
            return None

    def _descendants(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    pass
        out, todo = [], [self._jvm]
        while todo:
            pid = todo.pop()
            kids = [c for c, p in parent.items() if p == pid]
            out += kids
            todo += kids
        return out

    def _service_s(self) -> float:
        task = f"/proc/{self._jvm}/task"
        for tid in os.listdir(task):
            if tid in self._app:
                continue
            try:
                if tid not in self._service_ns:
                    with open(f"{task}/{tid}/comm") as fh:
                        if not fh.read().startswith(self._SERVICE):
                            self._app.add(tid)
                            continue
                with open(f"{task}/{tid}/schedstat") as fh:
                    self._service_ns[tid] = int(fh.read().split()[0])
            except OSError:
                continue
        return sum(self._service_ns.values()) / 1e9

    def read(self) -> float:
        for pid in self._descendants():
            s = self._clock_s(pid)
            if s is not None:
                self._children_s[pid] = s
        service = self._service_s()
        jvm = self._clock_s(self._jvm) or 0.0
        return time.process_time() + jvm - service + sum(self._children_s.values())


def reference_cpu_s(spark: SparkSession, clock: CpuClock) -> float:
    """CPU seconds a fixed reference kernel takes, read on ``clock``: a
    pure-Python part (hashing, sorting, an interpreter loop) and a JDK part
    in the driver JVM (sort and sum 250,000 seeded random ints), about
    0.05 s in all. It runs none of the program's code, so it measures only
    how fast the host runs code at that moment, on both sides of the
    driver: the unit end-to-end op costs are given in."""
    c0 = clock.read()
    h = hashlib.sha256()
    block = bytes(range(256)) * 4096
    for _ in range(2):
        h.update(block)
    sorted((i * 7919) % 100_003 for i in range(25_000))
    sum(i * i for i in range(40_000))
    spark.sparkContext._jvm.java.util.Random(42).ints(250_000).sorted().sum()
    return clock.read() - c0


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Tracer:
    """In-memory spans; ``dump`` writes them once at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span (epoch seconds) and return its id."""
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    def jobs(self, jobs: list[Job], parent: int) -> None:
        for j in jobs:
            jid = self.span("spark.job", j.start_ms / 1e3, j.end_ms / 1e3, parent, job_id=j.job_id, group=j.group)
            for s in j.stages:
                self.span(
                    "spark.stage", s.start_ms / 1e3, s.end_ms / 1e3, jid,
                    stage_id=s.stage_id, tasks=s.tasks, task_run_ms=s.run_ms,
                    shuffle_write_bytes=s.shuffle_write_bytes, spill_bytes=s.spill_bytes,
                )

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)

