"""Tracing for the benchmark's per-layer run, done from outside the
program: spans wrap the public methods of the instances the benchmark
builds, Spark jobs are tagged with the active span id, and the Spark
event log is parsed afterwards to attribute task metrics to spans.

Spans stay in memory (a list of tuples) until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans per thread. ``tag_jobs(span_id | None)`` is called on
    every span entry and exit so Spark jobs started inside a span carry
    its id (a thread-local Spark property)."""

    def __init__(self, tag_jobs=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._tag_jobs = tag_jobs
        self._clock = clock

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanContext(self, name)

    def _enter(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            sid = f"s{next(self._ids)}"
        sp = Span(sid, name, stack[-1].id if stack else None, self._clock())
        stack.append(sp)
        if self._tag_jobs is not None:
            self._tag_jobs(sid)
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = self._clock()
        stack = self._stack()
        stack.pop()
        if self._tag_jobs is not None:
            self._tag_jobs(stack[-1].id if stack else None)
        with self._lock:
            self.spans.append(sp)

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (an instance attribute shadowing the
        class method) with a span-recording wrapper."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self._tracer, self._name = tracer, name

    def __enter__(self) -> Span:
        self._span = self._tracer._enter(self._name)
        return self._span

    def __exit__(self, *exc) -> None:
        self._tracer._exit(self._span)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def children_of(spans) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            out.setdefault(sp.parent, []).append(sp)
    return out


def self_times(spans) -> dict[str, float]:
    """Span id -> its duration minus the part its direct children
    cover."""
    kids = children_of(spans)
    return {
        sp.id: sp.seconds
        - union_length([(c.start, c.end) for c in kids.get(sp.id, [])], sp.start, sp.end)
        for sp in spans
    }


def subtree(span_id: str, kids: dict[str, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp.id, []))
    return out


def self_time_residual(root: Span, spans) -> float:
    """|sum of self times over root's subtree - root duration|: zero
    when children nest inside their parents without overlapping."""
    kids = children_of(spans)
    selfs = self_times(spans)
    total = selfs[root.id] + sum(selfs[s.id] for s in subtree(root.id, kids))
    return abs(total - root.seconds)


# ----------------------------------------------------------- event log


@dataclass
class StageMetrics:
    span: str | None
    tasks: int = 0
    run_ms: list = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    disk_spill_bytes: int = 0


@dataclass
class EventLog:
    stages: dict = field(default_factory=dict)  # stage id -> StageMetrics
    jobs: dict = field(default_factory=dict)  # job id -> span id


def parse_event_log(lines) -> EventLog:
    """Attribute task metrics to spans through the job/stage properties
    in a Spark event log (one JSON event per line)."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            log.stages.setdefault(sid, StageMetrics(span)).span = span
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageMetrics(None))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms.append(int(m.get("Executor Run Time", 0)))
            st.gc_ms += int(m.get("JVM GC Time", 0))
            st.disk_spill_bytes += int(m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
    return log


def stage_skew(stage: StageMetrics) -> float:
    """max / median task run time (1.0 for an even stage)."""
    if not stage.run_ms:
        return 1.0
    med = statistics.median(stage.run_ms)
    return max(stage.run_ms) / med if med > 0 else 1.0


def widest_stage(stages) -> StageMetrics | None:
    """The stage with the most tasks (ties: most total run time)."""
    stages = [s for s in stages if s.tasks]
    if not stages:
        return None
    return max(stages, key=lambda s: (s.tasks, sum(s.run_ms)))
