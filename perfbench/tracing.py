"""Spans, Spark event-log parsing and span attribution for the benchmark.

A traced run records one span per layer call the benchmark makes
(name, start, end, parent), keeps them in memory and writes them out
once at the end. Spark's own event log supplies the job, stage and task
numbers; a job belongs to a span when its submission time falls inside
the span's interval. Attribution goes by time rather than by job group
because some engine calls submit jobs from their own thread pools,
whose threads do not inherit the caller's job group.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def check_metric_names(names) -> list[str]:
    """The names that break the metric-name rule `[A-Za-z0-9_.-]+`."""
    return [n for n in names if not METRIC_NAME.fullmatch(n or "")]


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. `span()` nests through a stack, so a
    span opened inside another records it as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), 0.0, parent)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        doc = dict(extra)
        doc["spans"] = [
            dict(asdict(s), self_s=round(selfs[s.id], 6)) for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


class NullTracer:
    """Tracing off: the same interface, nothing recorded."""

    @contextmanager
    def span(self, name: str):
        yield None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


# -- Spark event log ---------------------------------------------------------

@dataclass
class TaskRecord:
    stage: int
    failed: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    heap_peak: int  # peak JVMHeapMemory while the task ran, bytes


@dataclass
class EventLog:
    jobs: dict[int, tuple[int, list[int]]]  # job id → (submit ms, stage ids)
    tasks: list[TaskRecord]


def parse_event_log(lines) -> EventLog:
    """Jobs and task metrics from Spark event-log JSON lines."""
    jobs: dict[int, tuple[int, list[int]]] = {}
    tasks: list[TaskRecord] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = (ev["Submission Time"], list(ev["Stage IDs"]))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            tasks.append(TaskRecord(
                stage=ev["Stage ID"],
                failed=bool((ev.get("Task Info") or {}).get("Failed"))
                or reason != "Success",
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0),
                shuffle_write=wr.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                heap_peak=(ev.get("Task Executor Metrics") or {}).get(
                    "JVMHeapMemory", 0),
            ))
    return EventLog(jobs, tasks)


SPARK_METRICS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "idle_core_s", "peak_jvm_heap_mb",
)


def spark_metrics(log: EventLog, start: float, end: float, cores: int) -> dict:
    """The event-log numbers of the jobs submitted in [start, end]
    (epoch seconds)."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = {j for j, (t, _) in log.jobs.items() if lo <= t <= hi}
    # a stage runs in the first job that lists it; later jobs list it
    # again but skip it, reusing its shuffle output
    owner: dict[int, int] = {}
    for j, (_, stages) in sorted(log.jobs.items(), key=lambda kv: kv[1][0]):
        for s in stages:
            owner.setdefault(s, j)
    stage_ids = {s for s, j in owner.items() if j in jobs}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    run_s = sum(t.run_ms for t in tasks) / 1000.0
    return {
        "jobs": len(jobs),
        "stages": len({t.stage for t in tasks}),
        "tasks": len(tasks),
        "failed_tasks": sum(t.failed for t in tasks),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "jvm_gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "idle_core_s": cores * (end - start) - run_s,
        "peak_jvm_heap_mb": max((t.heap_peak for t in tasks), default=0) / (1 << 20),
    }


def mean_spark_metrics(log: EventLog, spans: list[Span], cores: int) -> dict:
    """Per-span average of `spark_metrics` over several spans."""
    per = [spark_metrics(log, s.start, s.end, cores) for s in spans]
    if not per:
        return {k: 0 for k in SPARK_METRICS}
    return {k: sum(p[k] for p in per) / len(per) for k in SPARK_METRICS}
