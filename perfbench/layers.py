"""Instruments the benchmark reads from outside the engine: in-memory
spans, a streaming-query listener, Spark job accounting by job group,
JVM GC time, event-log task metrics and kernel memory high-water marks.
Nothing here changes what the engine computes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

OP_PROPERTY = "perfbench.op"


# --- spans -------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str):
        rec = {
            "id": len(self.spans), "name": name, "op_id": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, op_prefix: str = "") -> list[float]:
        return [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["op_id"].startswith(op_prefix) and s["end"]
        ]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- streaming progress ------------------------------------------------------


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress per streaming run id."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.sinks: dict[str, str] = {}
        self.terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        with self._cond:
            self.progress.setdefault(str(event.runId), [])

    def onQueryProgress(self, event):
        p = event.progress
        with self._cond:
            self.sinks[str(p.runId)] = p.sink.description
            self.progress.setdefault(str(p.runId), []).append(
                {"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)}
            )

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.add(str(event.runId))
            self._cond.notify_all()

    def run_ids(self) -> set[str]:
        with self._cond:
            return set(self.progress)

    def wait_terminated(self, run_ids, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously after a query returns."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while not set(run_ids) <= self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for {run_ids}")
                self._cond.wait(left)

    def batches(self, run_ids) -> list[dict]:
        """Progress records of the given runs' batches that read data."""
        with self._cond:
            return [b for r in run_ids for b in self.progress.get(r, [])
                    if b["rows"] > 0]

    def sink_paths(self, run_ids) -> list[str]:
        """Output directories of file sinks, from descriptions such as
        ``FileSink[/path/to/sink]``."""
        with self._cond:
            descs = [self.sinks[r] for r in run_ids if r in self.sinks]
        return [d[d.index("[") + 1:d.rindex("]")] for d in descs if "[" in d]


def sink_listing(paths) -> tuple[int, int]:
    """(data files, bytes) under the sink directories, metadata excluded."""
    files = size = 0
    for root in paths:
        root = root.removeprefix("file:")
        for d, dirs, names in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
    return files, size


# --- Spark job accounting ----------------------------------------------------


def jobs_and_tasks(sc, groups) -> tuple[int, int]:
    """(jobs, tasks) the status tracker holds for the given job groups."""
    st = sc.statusTracker()
    jobs = tasks = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
    return jobs, tasks


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def event_log_task_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per value of the ``perfbench.op`` local
    property, read from the Spark event log once the session stopped."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
             if os.path.isfile(f)]
    stage_op: dict[int, str] = {}
    per_op: dict[str, dict[str, float]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    op = (ev.get("Properties") or {}).get(OP_PROPERTY)
                    if op:
                        for s in ev.get("Stage IDs", []):
                            stage_op.setdefault(s, op)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    op = stage_op.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if not op or not tm:
                        continue
                    acc = per_op.setdefault(
                        op, {"run_ms": 0.0, "cpu_ns": 0.0, "shuffle_write_bytes": 0.0})
                    acc["run_ms"] += tm.get("Executor Run Time", 0)
                    acc["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    acc["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return per_op


# --- host ------------------------------------------------------------------


def cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0, t1) -> float:
    """Share of the CPU time this machine wanted to run between two
    ``cpu_ticks`` readings that the hypervisor gave to other tenants."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        b - a for a, b in zip(t0, t1))
    wanted = user + nice + system + irq + softirq + steal
    return steal / wanted if wanted else 0.0


# --- memory ------------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Kernel high-water mark of a process's resident set, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc/<pid>/task/*/children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for kids in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(kids) as f:
                    c = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += c
            todo += c
    return out


def python_worker_hwm_mb(jvm_pid: int) -> float:
    """Largest VmHWM among the JVM's live PySpark worker processes."""
    best = 0.0
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" in cmd:
                best = max(best, vm_hwm_mb(p))
        except (OSError, ValueError):
            continue
    return best


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
