"""In-memory spans around the benchmark's calls into the engine.

Spans are recorded only from the benchmark's side of each call: delegating
wrappers that the benchmark passes into `ChangePipeline`'s fields, and
context managers around the registry calls. Nothing inside the engine is
changed. Each span carries a name, start, end, parent span and run id; a
span opened with a job group tags the Spark jobs its thread submits, so
status-store numbers can be attributed to it.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    job_group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; `enabled=False` makes every span a no-op."""

    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        group = f"{self.run_id}:{sid}" if job_group and self.spark is not None else None
        prev_group = None
        if group is not None:
            sc = self.spark.sparkContext
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if group is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id, group))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its direct children's
    intervals, clipped to the span."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivals = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
        out[s.id] = s.duration - union_length(ivals)
    return out


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def child_intervals(spans: list[Span], parent: Span) -> list[tuple[float, float]]:
    """The (start, end) of `parent`'s direct children, clipped to it."""
    return [(max(c.start, parent.start), min(c.end, parent.end))
            for c in spans if c.parent == parent.id]


def reconcile(wall: float, intervals) -> float:
    """Relative difference between a wall and the union of the intervals
    measured inside it (a span's children, or the Spark jobs it ran); 0
    means the next layer down accounts for the whole wall, and work left
    out of that layer shows up as the difference."""
    return abs(wall - union_length(intervals)) / wall


class TracedState:
    """StateStore stand-in that spans and counts the calls the pipeline
    makes; everything else is delegated unchanged."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.get_calls = 0
        self.upsert_calls = 0
        self.last_error_calls = 0
        # the engine's own methods (save_last_error, ...) write through the
        # store's `upsert`; point it at this wrapper so those writes are
        # spanned and counted too
        self._upsert = inner.upsert
        inner.upsert = self.upsert

    def get_allowed_columns(self, table):
        self.get_calls += 1
        with self._tracer.span("state.get_allowed_columns", job_group=True):
            return self._inner.get_allowed_columns(table)

    def upsert(self, entity_type, key, value):
        self.upsert_calls += 1
        with self._tracer.span("state.upsert", job_group=True):
            return self._upsert(entity_type, key, value)

    def save_last_error(self, table, message):
        self.last_error_calls += 1
        with self._tracer.span("state.save_last_error"):
            return self._inner.save_last_error(table, message)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TracedSink:
    """HttpSink stand-in that spans `post_partitions`."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def post_partitions(self, enveloped, *args, **kwargs):
        with self._tracer.span("http_sink.post_partitions", job_group=True):
            return self._inner.post_partitions(enveloped, *args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._inner, name)
