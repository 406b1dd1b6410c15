"""Spans around the benchmark's calls into the package, and Spark event-log attribution.

A traced run records one span per layer call: name, start, end, parent and
op id. Spans stay in memory until the run ends. Spark's own work is read
afterwards from the uncompressed event log and attributed to spans BY TIME
WINDOW: a job, stage or task belongs to the innermost span open at its
submission (or launch) time. Job groups are not used, because streaming and
IVM micro-batch jobs carry their own group.

This module imports nothing from Spark, so the attribution can be tested
against a hand-made event log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, same clock as the event log's milliseconds
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: Optional[int] = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        s = Span(name, time.time(), parent=parent, op=op)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()



def self_time(spans: list[Span], idx: int) -> float:
    """Span duration minus the part of its interval its child spans cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.duration - union_length(kids, s.start, s.end)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float = 0.0


@dataclass
class Stage:
    id: int
    submit: float


@dataclass
class Task:
    launch: float
    run_s: float
    cpu_s: float
    gc_s: float
    result_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def event_log_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir`` in write order. Spark 4 writes a
    rolling ``eventlog_v2_<app>/events_<N>_<app>`` directory; a single
    ``<app>`` file is read as is."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = glob.glob(os.path.join(path, "events_*"))
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
            files.extend(parts)
        elif os.path.isfile(path):
            files.append(path)
    return files


def read_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    jobs: dict[int, Job] = {}
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:  # skipped stages never ran
                        log.stages.append(Stage(info["Stage ID"], info["Submission Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    log.tasks.append(
                        Task(
                            info["Launch Time"] / 1000.0,
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("Executor CPU Time", 0) / 1e9,
                            m.get("JVM GC Time", 0) / 1000.0,
                            m.get("Result Size", 0),
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            sw.get("Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        )
                    )
    for job in jobs.values():
        if not job.end:
            job.end = job.submit
        log.jobs.append(job)
    log.jobs.sort(key=lambda j: j.submit)
    return log


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def innermost_span(spans: list[Span], t: float) -> Optional[int]:
    """Index of the deepest span whose [start, end] holds ``t``. Spans of a
    single-threaded client nest, so the latest-starting open span is the
    deepest."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and every span below it."""
    out = []
    for i in range(len(spans)):
        j = i
        while j is not None and j != root:
            j = spans[j].parent
        if j == root:
            out.append(i)
    return out


@dataclass
class Attribution:
    """Spark work attributed to spans: per span index, the jobs, stages and
    tasks whose submission or launch fell inside it (innermost span)."""

    jobs: dict[int, list[Job]]
    stages: dict[int, list[Stage]]
    tasks: dict[int, list[Task]]

    def jobs_under(self, spans: list[Span], root: int) -> list[Job]:
        return [j for i in subtree(spans, root) for j in self.jobs.get(i, [])]

    def stages_under(self, spans: list[Span], root: int) -> list[Stage]:
        return [s for i in subtree(spans, root) for s in self.stages.get(i, [])]

    def tasks_under(self, spans: list[Span], root: int) -> list[Task]:
        return [t for i in subtree(spans, root) for t in self.tasks.get(i, [])]


def attribute(spans: list[Span], log: EventLog) -> Attribution:
    jobs: dict[int, list[Job]] = {}
    stages: dict[int, list[Stage]] = {}
    tasks: dict[int, list[Task]] = {}
    for job in log.jobs:
        i = innermost_span(spans, job.submit)
        if i is not None:
            jobs.setdefault(i, []).append(job)
    for st in log.stages:
        i = innermost_span(spans, st.submit)
        if i is not None:
            stages.setdefault(i, []).append(st)
    for t in log.tasks:
        i = innermost_span(spans, t.launch)
        if i is not None:
            tasks.setdefault(i, []).append(t)
    return Attribution(jobs, stages, tasks)


def spark_op_metrics(spans: list[Span], att: Attribution, op_idx: int) -> dict:
    """Spark-side profile of one op span: counts, executor time, job span
    (union of job intervals inside the op), driver idle (op wall minus that
    union) and bytes."""
    op = spans[op_idx]
    jobs = att.jobs_under(spans, op_idx)
    stages = att.stages_under(spans, op_idx)
    tasks = att.tasks_under(spans, op_idx)
    job_span = union_length([(j.submit, j.end) for j in jobs], op.start, op.end)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_s for t in tasks),
        "spark.executor_cpu_s": sum(t.cpu_s for t in tasks),
        "spark.job_span_s": job_span,
        "spark.driver_idle_s": op.duration - job_span,
        "spark.shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / mb,
        "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / mb,
        "spark.result_mb": sum(t.result_bytes for t in tasks) / mb,
        "spark.spill_mb": sum(t.spill_bytes for t in tasks) / mb,
        "spark.jvm_gc_s": sum(t.gc_s for t in tasks),
    }


def layer_totals(spans: list[Span], att: Attribution, op_idx: int) -> dict[str, tuple[float, int]]:
    """Per span name inside one op: (summed self time, jobs submitted while
    that span was the innermost open one)."""
    out: dict[str, tuple[float, int]] = {}
    for i in subtree(spans, op_idx):
        if i == op_idx:
            continue
        name = spans[i].name
        dur, n = out.get(name, (0.0, 0))
        out[name] = (dur + self_time(spans, i), n + len(att.jobs.get(i, [])))
    return out
