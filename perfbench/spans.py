"""Spans recorded around the package's public entry points, and the fold of
a Spark event log into per-span counters.

A span is opened by ``Tracer.span(name)``. It records wall time in the
calling thread and tags every Spark job that thread submits by setting the
thread's ``perfbench.span`` local property to the span id; the outer value
is restored when the span closes. Spans opened in pool threads are tagged
the same way, because the tag is set in the thread that submits the jobs.

After the Spark session stops, ``fold_event_log`` reads the uncompressed
event log and ``span_counters`` attributes each job (and its tasks) to the
innermost span that submitted it, then sums a span's counters over its own
jobs and those of all its descendants.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

# counters folded from task-end events, per span
TASK_COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes_out",
    "python_bytes_in",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. ``sc`` is the SparkContext whose jobs are tagged; it
    may be None, in which case spans carry wall time only.

    A span opened in a thread with no open span of its own (a pool thread)
    becomes a child of the innermost span open in the thread that created
    the tracer, which is the thread that submitted the pooled work."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._owner = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}

    def _stack(self, ident: int) -> list[int]:
        with self._lock:
            return self._stacks.setdefault(ident, [])

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack(threading.get_ident())
        owner = self._stack(self._owner)
        parent = stack[-1] if stack else (owner[-1] if owner else None)
        with self._lock:
            sp = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
            self.spans.append(sp)
        outer = None
        if self.sc is not None:
            outer = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, outer)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float):
    """Intervals intersected with [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Job:
    id: int
    span: int | None
    start: float
    end: float | None = None
    stages: tuple = ()
    tasks: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(TASK_COUNTERS, 0.0))


def fold_event_log(lines) -> dict[int, Job]:
    """Fold Spark event-log JSON lines into jobs with their span tag, their
    interval in epoch seconds, and their tasks' summed counters."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            job = Job(
                ev["Job ID"],
                int(tag) if tag not in (None, "") else None,
                ev["Submission Time"] / 1000.0,
                stages=tuple(ev.get("Stage IDs", ())),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            job = jobs[jid]
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            c = job.counters
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name")
                if name == "data sent to Python workers":
                    c["python_bytes_out"] += int(acc.get("Update") or 0)
                elif name == "data returned from Python workers":
                    c["python_bytes_in"] += int(acc.get("Update") or 0)
    return jobs


def span_counters(spans: list[Span], jobs: dict[int, Job]) -> dict[int, dict]:
    """Per-span counters: wall, self time, and the inclusive job/task sums
    over the span's subtree. ``driver_gap_s`` is wall time not covered by
    any of the subtree's job intervals (driver-side planning, commits and
    scheduling); ``self_s`` is wall time not covered by child spans."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    by_span: dict[int, list[Job]] = {}
    for job in jobs.values():
        if job.span is not None:
            by_span.setdefault(job.span, []).append(job)

    def subtree_jobs(sid: int) -> list[Job]:
        out = list(by_span.get(sid, ()))
        for ch in children.get(sid, ()):
            out += subtree_jobs(ch.id)
        return out

    result = {}
    for sp in spans:
        end = sp.end if sp.end is not None else sp.start
        wall = end - sp.start
        sub = subtree_jobs(sp.id)
        job_iv = clipped(
            [(j.start, j.end if j.end is not None else end) for j in sub],
            sp.start,
            end,
        )
        child_iv = clipped(
            [(c.start, c.end if c.end is not None else end)
             for c in children.get(sp.id, ())],
            sp.start,
            end,
        )
        row = {
            "wall_s": wall,
            "self_s": wall - union_length(child_iv),
            "jobs": len(sub),
            "tasks": sum(j.tasks for j in sub),
            "driver_gap_s": wall - union_length(job_iv),
        }
        for k in TASK_COUNTERS:
            row[k] = sum(j.counters[k] for j in sub)
        result[sp.id] = row
    return result
