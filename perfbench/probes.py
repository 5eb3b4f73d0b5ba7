"""Outside-in probes: the benchmark's Spark session, Spark's own counters,
spans, plan fingerprints and memory high-water marks.

Nothing here reaches into the engine package. Counters come from what
Spark exposes to any client: job groups read back through
``sc.statusTracker()``, a ``StreamingQueryListener``, and (traced runs
only) the JSON event log, parsed after the session has stopped.
"""

from __future__ import annotations

import json
import os
import re
import resource
import subprocess
import threading
import time
from dataclasses import dataclass, field


# --------------------------------------------------------------- session


def start_session(cores: int, run_dir: str, event_dir: str | None):
    """Start the measured SparkSession in this (fresh) process.

    Returns ``(spark, start_s)``. A traced run passes ``event_dir``; the
    event log must really be on, and ``getOrCreate`` silently returns an
    older session (ignoring the conf) when one exists, so both are
    checked rather than assumed."""
    from pyspark.sql import SparkSession

    from classification_pyspark_spark.session import get_spark

    if SparkSession.getActiveSession() is not None:
        raise RuntimeError("a SparkSession already exists in this process; run the benchmark fresh")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # the package default (16g) exceeds what this benchmark may take
        # from a shared host; a 2g cap holds both workloads
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # the package sizes master and shuffle partitions from this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", conf=conf)
    start_s = time.perf_counter() - t0
    if event_dir is not None and spark.conf.get("spark.eventLog.enabled", "false") != "true":
        stop_spark(spark)
        raise RuntimeError("spark.eventLog.enabled is not set on the session; counters would be empty")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def session_record(spark) -> dict:
    """Resolved conf and versions that decide what a run measured."""
    import pyspark

    conf = spark.sparkContext.getConf()
    system = spark._jvm.java.lang.System
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "adaptive": spark.conf.get("spark.sql.adaptive.enabled"),
        "event_log": conf.get("spark.eventLog.enabled", "false"),
        "pyspark": pyspark.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.runtime.version')}",
        "nproc": os.cpu_count(),
    }


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """Driver memory high-water mark: the driver JVM's peak use of each of
    its memory pools, heap and non-heap, as its management beans report
    it, plus the Python driver's peak resident set. The JVM's resident set
    is not used: it counts heap pages the JVM reserved but the program
    never needed."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    jvm_b = sum(p.getPeakUsage().getUsed() for p in pools)
    return py_kb / 1024.0 + jvm_b / 2**20


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid``
    and every process below it: the driver JVM and its Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(p)
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        if p in stats:
            total += stats[p][1]
            todo += children.get(p, [])
    return total / tick


def stop_spark(spark) -> None:
    """Stop the session, shut the Py4J gateway and wait for the JVM to exit.

    ``SparkSession.stop`` leaves the gateway JVM running until the Python
    process exits; the benchmark leaves no process behind, so it closes
    the JVM's stdin (its exit signal) and waits for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------ job counts


class JobCounter:
    """Counts Spark jobs per operation through job groups.

    Each operation runs under its own group; a streaming query runs its
    micro-batches under the group of its run id, which the listener
    below reports, so its jobs are read back under that id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def count(self, *groups: str) -> int:
        return sum(len(self.tracker.getJobIdsForGroup(g)) for g in groups)


def make_stream_listener(spark):
    """A ``StreamingQueryListener`` that keeps every query's run id and
    per-epoch progress; registered on the session and returned."""
    from pyspark.sql.streaming import StreamingQueryListener

    class EpochLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.runs: list[str] = []
            self.terminated: set[str] = set()
            self.epochs: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.runs.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.epochs.append(
                    {
                        "run": str(p.runId),
                        "batch": p.batchId,
                        "rows_in": p.numInputRows,
                        "duration_s": p.batchDuration / 1000.0,
                        "timestamp": p.timestamp,
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def drain(self, timeout_s: float = 10.0) -> tuple[list[str], list[dict]]:
            """Wait until every started query has reported termination
            (events arrive asynchronously), then hand over and reset."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if set(self.runs) <= self.terminated:
                        break
                time.sleep(0.02)
            with self.lock:
                runs, epochs = self.runs, self.epochs
                self.runs, self.epochs = [], []
                self.terminated -= set(runs)
            return runs, epochs

    listener = EpochLog()
    spark.streams.addListener(listener)
    return listener


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans, written out once when the run ends. A disabled
    tracer records nothing, so untraced runs pay only a branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.time(), 0.0, parent, self.run_id, len(self.spans), attrs)
        self.spans.append(span)
        self._stack.append(span.id)
        return span.id

    def close(self, span_id: int | None, **attrs) -> None:
        if span_id is None:
            return
        span = self.spans[span_id]
        span.end = time.time()
        span.attrs.update(attrs)
        self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (e.g. an epoch from the listener)."""
        if not self.enabled:
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, end, parent, self.run_id, len(self.spans), attrs))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ------------------------------------------------------ plan fingerprint

_EXPR_ID = re.compile(r"#\d+L?")
# ids that number plan nodes in the order they were created or, under
# AQE, in the order their stages ran (query stages, codegen stages)
_PLAN_NOISE = re.compile(
    r"(plan_id=|id=#|\[id=|QueryStage |\*\()\d+|ExistingRDD\[[^\]]*\]|RDD\[\d+\]"
)


def plan_fingerprint(df, root: str) -> str:
    """sha1 of the physical plan as executed, with expression, plan and
    stage ids and the checkout path normalised, so two runs of one plan
    agree."""
    import hashlib

    text = df._jdf.queryExecution().executedPlan().toString()
    text = _PLAN_NOISE.sub(lambda m: m.group(1) or "RDD", _EXPR_ID.sub("#", text.replace(root, "<root>")))
    return hashlib.sha1(text.encode()).hexdigest()[:16]


# -------------------------------------------------------------- event log


def read_event_log(event_dir: str) -> list[dict]:
    """Parse the single uncompressed event log the traced session wrote."""
    logs = [
        os.path.join(event_dir, n)
        for n in os.listdir(event_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if not logs:
        raise RuntimeError(
            f"no finished Spark event log in {event_dir}: the session did not log "
            "(spark.eventLog.enabled ignored?) or did not stop cleanly"
        )
    if len(logs) > 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    events = []
    with open(logs[0]) as f:
        for line in f:
            events.append(json.loads(line))
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def window_counters(events: list[dict], start: float, end: float, cores: int) -> dict:
    """Scheduler and shuffle/exec counters for the jobs submitted inside
    the wall-clock window ``[start, end]`` (seconds since the epoch)."""
    lo, hi = start * 1000.0, end * 1000.0
    job_stages: set[int] = set()
    n_jobs = 0
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart" and lo <= ev["Submission Time"] <= hi:
            n_jobs += 1
            job_stages.update(ev["Stage IDs"])
    ran_stages: set[int] = set()
    c = dict.fromkeys(
        (
            "tasks", "tasks_failed", "shuffle_write", "shuffle_read", "fetch_wait_ms",
            "spill_mem", "spill_disk", "run_ms", "cpu_ns", "gc_ms", "input", "result",
            "output",
        ),
        0,
    )
    busy = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted" and ev["Stage Info"]["Stage ID"] in job_stages:
            ran_stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in job_stages:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["tasks_failed"] += bool(info.get("Failed"))
            busy.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            c["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            c["spill_mem"] += m.get("Memory Bytes Spilled", 0)
            c["spill_disk"] += m.get("Disk Bytes Spilled", 0)
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            c["result"] += m.get("Result Size", 0)
            c["output"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    wall = end - start
    clipped = [(max(a, start), min(b, end)) for a, b in busy if b > start and a < end]
    task_s = sum(b - a for a, b in busy)
    return {
        "spark.jobs": n_jobs,
        "spark.stages": len(ran_stages),
        "spark.stages_skipped": len(job_stages - ran_stages),
        "spark.tasks": c["tasks"],
        "spark.tasks_failed": c["tasks_failed"],
        "driver.gap_s": wall - _union_len(clipped),
        "shuffle.write_bytes": c["shuffle_write"],
        "shuffle.read_bytes": c["shuffle_read"],
        "shuffle.fetch_wait_s": c["fetch_wait_ms"] / 1000.0,
        "spill.memory_bytes": c["spill_mem"],
        "spill.disk_bytes": c["spill_disk"],
        "task.run_s": c["run_ms"] / 1000.0,
        "task.cpu_s": c["cpu_ns"] / 1e9,
        "task.gc_s": c["gc_ms"] / 1000.0,
        "task.slot_busy_ratio": task_s / (wall * cores) if wall > 0 else 0.0,
        "input.bytes": c["input"],
        "result.bytes": c["result"],
        "io.output_bytes": c["output"],
    }
