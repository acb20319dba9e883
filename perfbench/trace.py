"""Spans recorded by the benchmark runner, and Spark event-log attribution.

The traced run keeps spans in memory: a name, a start and end (epoch
seconds) and the name of the parent span. Spans wrap the engine's public calls
from outside; spans the engine itself records (the pipeline manifest's stage
entries, Structured Streaming's per-trigger progress) are added as children
after the call returns.

Spark's event log (uncompressed, non-rolling) supplies the work done inside a
span. A job belongs to the innermost span whose interval holds the job's
submission time. Job groups are not used: ``aggregate_stage`` submits its two
jobs from a thread pool, and those jobs carry no group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

# task-level SQL accumulables summed per stage, keyed by the name Spark gives them
_TASK_ACCUMS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
}
# driver-side SQL metrics summed per SQL execution
_DRIVER_ACCUMS = {
    "number of files read": "files_read",
    "size of files read": "file_bytes_read",
    "number of written files": "files_written",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are read back after the traced call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent)

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> Span:
        if any(s.name == name for s in self.spans):
            raise ValueError(f"duplicate span name {name!r}")
        span = Span(name, start, end, parent)
        self.spans.append(span)
        return span

    def get(self, name: str) -> Span:
        for s in self.spans:
            if s.name == name:
                return s
        raise KeyError(name)

    def children(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == name]

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it that child spans cover."""
        span = self.get(name)
        kids = [(c.start, c.end) for c in self.children(name)]
        return span.duration - covered(kids, span.start, span.end)

    def innermost(self, t: float) -> Span | None:
        """Innermost span whose interval holds ``t``: a child starts no
        earlier and ends no later than its parent, so the latest start wins
        and, on equal starts, the earliest end."""
        holding = [s for s in self.spans if s.start <= t <= s.end]
        return max(holding, key=lambda s: (s.start, -s.end), default=None)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    stage_ids: list[int]


@dataclass
class EventLog:
    """The parts of one Spark event log the benchmark reads."""

    jobs: dict[int, Job] = field(default_factory=dict)
    stage_metrics: dict[int, Counter] = field(default_factory=dict)
    execution_start: dict[int, float] = field(default_factory=dict)
    execution_metrics: dict[int, Counter] = field(default_factory=dict)

    def job_metrics(self, job_ids) -> Counter:
        total: Counter = Counter()
        for j in job_ids:
            for sid in self.jobs[j].stage_ids:
                total.update(self.stage_metrics.get(sid, Counter()))
        return total

    def driver_metrics(self, execution_ids) -> Counter:
        total: Counter = Counter()
        for e in execution_ids:
            total.update(self.execution_metrics.get(e, Counter()))
        return total


def find_event_log(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def parse_event_log(path: str) -> EventLog:
    """Fold an uncompressed event log into per-job, per-stage and per-SQL-execution
    totals. Times are converted from epoch milliseconds to epoch seconds."""
    log = EventLog()
    accum_names: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []

    def walk_plan(node: dict) -> None:
        for m in node.get("metrics", []):
            accum_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            walk_plan(child)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"] / 1000.0, float("nan"), list(e["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = log.stage_metrics.setdefault(e["Stage ID"], Counter())
                tm = e.get("Task Metrics") or {}
                m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for a in e["Task Info"].get("Accumulables", []):
                    key = _TASK_ACCUMS.get(a.get("Name"))
                    if key is not None and a.get("Update") is not None:
                        m[key] += int(a["Update"])
            elif kind.endswith("SQLExecutionStart"):
                log.execution_start[e["executionId"]] = e["time"] / 1000.0
                walk_plan(e["sparkPlanInfo"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk_plan(e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    driver_updates.append((e["executionId"], acc_id, int(value)))
    for exec_id, acc_id, value in driver_updates:
        key = _DRIVER_ACCUMS.get(accum_names.get(acc_id, ""))
        if key is not None:
            log.execution_metrics.setdefault(exec_id, Counter())[key] += value
    unfinished = [j.job_id for j in log.jobs.values() if j.end != j.end]
    if unfinished:
        raise RuntimeError(f"event log {path} has jobs with no JobEnd: {unfinished}")
    return log


def attribute(tracer: Tracer, log: EventLog) -> tuple[dict[str, list[int]], dict[str, list[int]]]:
    """Map each span name to the jobs and SQL executions submitted inside it
    (innermost span wins). Jobs submitted outside every span are dropped."""
    jobs: dict[str, list[int]] = {s.name: [] for s in tracer.spans}
    execs: dict[str, list[int]] = {s.name: [] for s in tracer.spans}
    for job in log.jobs.values():
        span = tracer.innermost(job.submit)
        if span is not None:
            jobs[span.name].append(job.job_id)
    for exec_id, t in log.execution_start.items():
        span = tracer.innermost(t)
        if span is not None:
            execs[span.name].append(exec_id)
    return jobs, execs


def subtree(tracer: Tracer, name: str) -> list[str]:
    """``name`` and every span below it."""
    out = [name]
    for child in tracer.children(name):
        out.extend(subtree(tracer, child.name))
    return out


def jobs_under(tracer: Tracer, owned: dict[str, list[int]], name: str) -> list[int]:
    return sorted(j for s in subtree(tracer, name) for j in owned[s])


def driver_time(tracer: Tracer, log: EventLog, name: str) -> float:
    """Seconds of span ``name`` during which no Spark job was running."""
    span = tracer.get(name)
    intervals = [(j.submit, j.end) for j in log.jobs.values()]
    return span.duration - covered(intervals, span.start, span.end)
