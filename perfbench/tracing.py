"""Tracing for the benchmark's traced mode, all from outside the package.

- ``Tracer`` keeps spans (name, start, end, parent, operation id) in
  memory and writes them out once, when the run ends.
- ``jvm_gc`` and ``storage`` read the driver's GC MXBeans and the block
  manager's RDD storage info through the Py4J gateway.
- ``read_event_log`` parses Spark's uncompressed JSON event log with
  the standard library and sums jobs, stages, tasks and task metrics
  per job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans


class Tracer:
    """In-memory spans; the current span is the parent of new ones."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.op, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def of_op(self, op: int, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        idx = self.spans.index(span)
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == idx)
        covered, reach = 0.0, span.start
        for a, b in kids:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return span.end - span.start - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s), "self_s": self.self_time(s)}) + "\n")


def jvm_gc(spark) -> tuple[float, int]:
    """Cumulative driver-JVM GC (seconds, collections) over all collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ms = count = 0
    for i in range(beans.size()):
        b = beans.get(i)
        ms += max(b.getCollectionTime(), 0)
        count += max(b.getCollectionCount(), 0)
    return ms / 1000.0, count


def storage(spark) -> tuple[int, float]:
    """RDDs the block manager holds now, and their memory+disk size in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = [r for r in infos if r.numCachedPartitions() > 0]
    return len(held), sum(r.memSize() + r.diskSize() for r in held) / 2**20


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


GROUP_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "task_gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "plan_s",
)


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: job/stage/task counts, task metrics, and planning
    time (SQL execution start to its first job's submission)."""
    files = []  # Spark 4 writes a directory of numbered event files per app
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if n.startswith("events_")]
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict[int, str] = {}
    exec_start: dict[int, int] = {}
    exec_first_job: dict[int, tuple[int, str]] = {}
    stages_with_tasks: dict[str, set] = defaultdict(set)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_KEYS, 0.0))
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) not in exec_first_job:
                exec_first_job[int(eid)] = (ev["Submission Time"], group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            m = ev.get("Task Metrics") or {}
            g = out[group]
            stages_with_tasks[group].add(ev["Stage ID"])
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20
            g["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[ev["executionId"]] = ev["time"]
    for eid, (submitted, group) in exec_first_job.items():
        if eid in exec_start:
            out[group]["plan_s"] += max(submitted - exec_start[eid], 0) / 1e3
    for group, sids in stages_with_tasks.items():
        out[group]["stages"] = len(sids)
    return dict(out)
