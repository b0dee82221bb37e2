"""Pure helpers of the benchmark: order statistics, job counting, spans.

Nothing here imports Spark or the engine, so the unit tests in
``test_harness.py`` run without a JVM.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[int, float] | None:
    """The highest whole percentile that leaves at least ``min_beyond``
    samples above it, as ``(percentile, value)``; None when there are too
    few samples for any percentile to qualify.

    Percentiles use the nearest-rank rule: the p-th percentile of n sorted
    samples is the sample at rank ceil(p * n / 100), so n - rank samples lie
    beyond it. With 20 samples that is p50, with 100 samples p90.
    """
    n = len(values)
    if n <= min_beyond:
        return None
    ordered = sorted(values)
    pct = (100 * (n - min_beyond)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return pct, float(ordered[rank - 1])


def highest_job_id(job_ids) -> int:
    """The highest Spark job id in ``job_ids`` (-1 before the first job)."""
    return max(job_ids, default=-1)


def job_count(ids_before, ids_after) -> int:
    """Jobs run between two ``statusTracker`` snapshots.

    Job ids are assigned in submission order, so the difference of the
    highest ids is exact however many jobs the tracker still retains.
    Counting retained ids instead undercounts once more than
    ``spark.ui.retainedJobs`` jobs have run.
    """
    return highest_job_id(ids_after) - highest_job_id(ids_before)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
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


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    children = [(c.start, c.end) for c in spans if c.parent == span.id and c.end is not None]
    return (span.end - span.start) - covered(children, span.start, span.end)


class SpanRecorder:
    """In-memory spans: name, start, end, parent and operation id.

    The parent is the innermost open span of the calling thread, or, for a
    span opened on another thread (the engine's background futures), the
    operation's root span. Times are epoch seconds so they line up with
    Spark's event log.
    """

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._root: int | None = None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            if op is not None:
                self._op = op
            parent = stack[-1] if stack else (None if op is not None else self._root)
            sp = Span(len(self.spans), name, self.clock(), None, parent, self._op)
            self.spans.append(sp)
            if op is not None:
                self._root = sp.id
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = self.clock()
            if op is not None:
                with self._lock:
                    self._root = self._op = None

    @property
    def current_op(self) -> int | None:
        """The operation whose root span is open, if any."""
        return self._op

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
