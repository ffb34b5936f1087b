"""Spans, job attribution and Spark event-log totals for the traced run.

Spans live in memory and are written out once, when the run ends. Each span
has a name, start, end, parent and op id. Spark jobs are attributed to a
span by the difference between the job ids the status tracker knows before
and after it, which also catches jobs started from the program's own pool
threads (a per-thread job group would miss those).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def known_jobs(spark) -> set[int]:
    """Every job id the status tracker holds. The program sets no job
    groups, so its jobs all sit in the default (None) group."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def new_jobs(before: set[int], after: set[int]) -> list[int]:
    """Jobs that appeared between two status-tracker readings."""
    return sorted(after - before)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for a, b in sorted((c.start, c.end) for c in spans if c.parent == i):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out.append(s.wall - covered)
    return out


class Tracer:
    """In-memory span recorder. ``spark`` may be None (no job attribution),
    which keeps the span arithmetic testable without a session."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        before = known_jobs(self.spark) if self.spark is not None else set()
        idx = len(self.spans)
        self.spans.append(Span(name, self.clock(), parent=parent, op=self.op))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.end = self.clock()
            if self.spark is not None:
                s.jobs = new_jobs(before, known_jobs(self.spark))

    def next_op(self) -> None:
        self.op += 1

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, name: str) -> float:
        """Summed self time of the spans with this name."""
        st = self_times(self.spans)
        return sum(t for s, t in zip(self.spans, st) if s.name == name)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "self_s": t} for s, t in zip(self.spans, st)], f, indent=1
            )


@dataclass
class TaskTotals:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    stages: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def read_event_log(log_dir: str) -> tuple[dict[int, list[int]], dict[int, TaskTotals]]:
    """Parse the (finished) event log: job id -> stage ids, and per-stage
    task totals from every SparkListenerTaskEnd."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    job_stages: dict[int, list[int]] = {}
    stage_totals: dict[int, TaskTotals] = {}
    mb = 2.0**20
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_stages[ev["Job ID"]] = ev["Stage IDs"]
            elif kind == "SparkListenerTaskEnd":
                t = stage_totals.setdefault(ev["Stage ID"], TaskTotals())
                t.tasks += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    t.failed_tasks += 1
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                t.run_s += m.get("Executor Run Time", 0) / 1e3
                t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                t.gc_s += m.get("JVM GC Time", 0) / 1e3
                t.shuffle_read_mb += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / mb
                t.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
                t.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
    return job_stages, stage_totals


def totals_for(jobs, job_stages, stage_totals) -> TaskTotals:
    """Task totals over the stages the given jobs ran; a stage a job
    skipped (its shuffle output was reused) ran no tasks and is not
    counted."""
    out = TaskTotals()
    seen = set()
    for j in jobs:
        for sid in job_stages.get(j, []):
            if sid not in seen and sid in stage_totals:
                seen.add(sid)
                out.add(stage_totals[sid])
    out.stages = len(seen)
    return out
