"""Spans, call wrapping and Spark counters, all from outside the engine.

Nothing inside ``fund_data_pipeline_spark`` is edited. A traced run swaps
selected public functions of each layer for wrappers that open a span around
the call, and, because the engine is lazy, materialize a returned DataFrame
inside the span (``localCheckpoint`` plus a count) so the span holds the
work of that layer rather than of plan construction. The swaps are undone
when the traced run ends. Spans are kept in memory and written out as JSON
when the benchmark ends.

Spark work is counted by job-id range per phase through
``SparkContext.statusTracker()``; job groups are thread-local and the
orchestrator runs two stages on pool threads, so a group would miss them.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. Parents follow a per-thread stack; a call on a pool
    thread names its parent explicitly (see :meth:`bind`)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = ""
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._swapped: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def span(self, name: str, parent: int | None = None):
        return _SpanCtx(self, name, parent)

    def bind(self, name: str, fn, parent: int | None):
        """``fn`` wrapped in a span whose parent is ``parent`` even when it
        runs on another thread."""

        def run(*a, **kw):
            with self.span(name, parent=parent):
                return fn(*a, **kw)

        return run

    def swap(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        self._swapped.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(wrapper_factory(original)))

    def restore(self) -> None:
        while self._swapped:
            owner, attr, original = self._swapped.pop()
            setattr(owner, attr, original)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: int | None) -> None:
        self.t, self.name, self.parent = tracer, name, parent

    def __enter__(self) -> Span:
        parent = self.parent if self.parent is not None else self.t.current()
        self.span = Span(next(self.t._ids), self.name, time.perf_counter(), 0.0, parent, self.t.run_id)
        self.t._stack().append(self.span.id)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(self.span)


def materialize(df):
    """Compute ``df`` now and return an equivalent frame over the result."""
    return df.localCheckpoint(eager=True)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


# ---------------------------------------------------------------------------
# Spark counters by job-id range
# ---------------------------------------------------------------------------


class SparkCounters:
    """Jobs, stages, tasks and failed tasks of the jobs a phase started."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.seen = self._max_job()

    def _job_ids(self) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(None))

    def _max_job(self) -> int:
        return max(self._job_ids(), default=-1)

    def take(self) -> dict:
        """Counters of every job started since the previous call."""
        ids = [j for j in self._job_ids() if j > self.seen]
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for j in ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:  # skipped stage: its work was reused
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        self.seen = max(ids, default=self.seen)
        return out


def add_counts(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


# ---------------------------------------------------------------------------
# summaries
# ---------------------------------------------------------------------------


def summary(values: list[float]) -> dict:
    """Median plus the highest percentile that has at least ten samples
    beyond it (none below twenty samples), with the sample count."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals) if vals else None}
    if n >= 20:
        pct = int(100 * (1 - 10 / n))
        out[f"p{pct}"] = vals[min(n - 1, int(pct / 100 * n))]
    return out
