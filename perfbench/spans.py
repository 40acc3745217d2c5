"""In-memory spans, self time, and Spark event-log attribution.

A span records one call the benchmark makes into the engine: a name, a
start and end (epoch seconds, from a monotonic clock anchored once), the
span that caused it, and a trace id ``workload/pass/query``. Spans stay
in memory and are written out when the run ends.

Spark jobs are attributed to a span by time window: a job belongs to
the innermost span whose interval contains the job's submission time.
Job groups are not used, because plan code launches some jobs from
plain ``ThreadPoolExecutor`` threads that do not inherit the caller's
job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Collects spans. ``enabled=False`` makes :meth:`span` a plain timer
    that records nothing, for the untraced passes."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    # epoch = perf_counter() + _anchor; one anchor so spans are monotonic
    # and comparable with the event log's epoch-millisecond clock
    _anchor: float = field(default_factory=lambda: time.time() - time.perf_counter())

    def now(self) -> float:
        return time.perf_counter() + self._anchor

    @contextlib.contextmanager
    def span(self, name: str, trace: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, trace, parent, self.now())
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.now()
            if self.enabled:
                self._stack.pop()

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        own = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump([{**asdict(s), "self_s": own[s.id]} for s in self.spans], fh)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = s.dur - union_length(clipped)
    return out


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    input_bytes: int


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]


def parse_event_log(lines) -> EventLog:
    """Jobs and successful tasks from an uncompressed Spark event log
    (one JSON event per line)."""
    starts: dict[int, tuple[float, list[int]]] = {}
    jobs: list[Job] = []
    tasks: list[Task] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = (ev["Submission Time"] / 1e3, list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            submit, stages = starts.pop(ev["Job ID"])
            jobs.append(Job(ev["Job ID"], submit, ev["Completion Time"] / 1e3, stages))
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            if info.get("Failed") or not m:
                continue
            sw = m.get("Shuffle Write Metrics", {})
            tasks.append(Task(
                stage=ev["Stage ID"],
                launch=info["Launch Time"] / 1e3,
                finish=info["Finish Time"] / 1e3,
                run_s=m.get("Executor Run Time", 0) / 1e3,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
            ))
    return EventLog(jobs, tasks)


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, int]:
    """Job id -> id of the innermost span whose window holds the job's
    submission time. Jobs outside every span are left out."""
    out = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (best is None or s.dur < best.dur):
                best = s
        if best is not None:
            out[j.id] = best.id
    return out


def window_stats(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Execution counters of the jobs submitted inside [start, end]."""
    jobs = [j for j in log.jobs if start <= j.submit <= end]
    stages = {sid for j in jobs for sid in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
    skew = max(
        (max(d) / max(statistics.median(d), 1e-3) for d in by_stage.values()), default=1.0
    )
    busy = union_length([(max(j.submit, start), min(j.end, end)) for j in jobs if j.end > start])
    mb = 1024 * 1024
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(by_stage),
        "exec.tasks": len(tasks),
        "exec.executor_run_s": sum(t.run_s for t in tasks),
        "exec.executor_cpu_s": sum(t.cpu_s for t in tasks),
        "exec.jvm_gc_s": sum(t.gc_s for t in tasks),
        "exec.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / mb,
        "exec.spill_mb": sum(t.spill for t in tasks) / mb,
        "exec.task_skew": skew,
        "exec.driver_idle_s": (end - start) - busy,
        "sources.scan_mb": sum(t.input_bytes for t in tasks) / mb,
    }
