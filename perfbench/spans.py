"""Spans recorded around calls into the library, and Spark's own task
metrics attached to them.

A span is one call into a module's public function, timed from the
benchmark. While a span is open its calls run under a Spark job group
named after the span id, so every job (and every task of every stage
of that job) the call triggers can be attributed to it afterwards from
the event log Spark writes when the session stops. Spans are kept in
memory and written nowhere.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    t0: float  # epoch seconds (the event log's clock)
    t1: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; with a SparkContext, also sets the job group of
    each open span (restoring the enclosing one on exit)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` (a module function or a plain method)
        with a version that runs inside ``span(name)``; returns an undo
        callable. Callers inside the library resolve the attribute at
        call time, so their calls are timed too."""
        orig = getattr(owner, attr)

        def timed(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, timed)
        return lambda: setattr(owner, attr, orig)


# ------------------------------------------------------------ event log


@dataclass
class Job:
    id: int
    group: str | None
    t0: float
    t1: float


@dataclass
class Task:
    stage: int
    group: str | None
    duration_s: float
    failed: bool
    cpu_s: float
    gc_s: float
    shuffle_write: int
    input_bytes: int
    output_bytes: int
    spill_bytes: int


def read_event_log(path: str) -> tuple[list[Job], list[Task]]:
    """Jobs and tasks of the Spark event log at ``path`` (a JSON-lines
    file, uncompressed), each tagged with its job group."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[Task] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = Job(ev["Job ID"], g, ev["Submission Time"] / 1e3, 0.0)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(Task(
                    stage=ev["Stage ID"],
                    group=stage_group.get(ev["Stage ID"]),
                    duration_s=(info["Finish Time"] - info["Launch Time"]) / 1e3,
                    failed=bool(info.get("Failed")) or info.get("Killed", False),
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1e3,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                ))
    return [j for j in jobs.values() if j.t1], tasks


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


# ------------------------------------------------------------ span math


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def subtree(span: Span, spans: list[Span]) -> list[Span]:
    """``span`` and every span opened (transitively) inside it."""
    out, frontier = [span], {span.id}
    for s in spans:  # spans are recorded in open order: parents first
        if s.parent in frontier:
            out.append(s)
            frontier.add(s.id)
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its child spans cover."""
    kids = [(s.t0, s.t1) for s in spans if s.parent == span.id]
    return span.wall - union_length(kids, span.t0, span.t1)


def driver_time(span: Span, spans: list[Span], jobs: list[Job]) -> float:
    """The span's duration minus the time any Spark job of its group
    (or of a span nested in it) was running: planning, collects and
    Python glue."""
    groups = {s.id for s in subtree(span, spans)}
    busy = [(j.t0, j.t1) for j in jobs if j.group in groups]
    return span.wall - union_length(busy, span.t0, span.t1)


@dataclass
class LayerStats:
    """Totals over every span of one layer name (nested spans of other
    layers excluded from job and task counts)."""
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    driver_s: float = 0.0
    jobs: int = 0
    tasks: list[Task] = field(default_factory=list)


def layer_stats(spans: list[Span], jobs: list[Job], tasks: list[Task]) -> dict[str, LayerStats]:
    out: dict[str, LayerStats] = {}
    name_of = {s.id: s.name for s in spans}
    for s in spans:
        st = out.setdefault(s.name, LayerStats())
        st.calls += 1
        st.wall_s += s.wall
        st.self_s += self_time(s, spans)
        st.driver_s += driver_time(s, spans, jobs)
    for j in jobs:
        if j.group in name_of:
            out[name_of[j.group]].jobs += 1
    for t in tasks:
        if t.group in name_of:
            out[name_of[t.group]].tasks.append(t)
    return out


def task_skew(tasks: list[Task]) -> float:
    """Max over median task duration in the stage with the most tasks."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_s)
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=len)
    widest.sort()
    med = widest[len(widest) // 2]
    return max(widest) / med if med > 0 else 1.0
