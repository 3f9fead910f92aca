"""Metric math for the benchmark: pure functions, no Spark.

Everything here is unit-tested on synthetic inputs in
``perfbench/tests/test_metrics.py``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterable, Sequence

# a tail percentile is reported only where this many samples lie beyond it
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def geomean(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(values: Sequence[float]) -> tuple[int, float]:
    """The highest whole percentile p that still has at least
    TAIL_BEYOND samples strictly above its rank, and the sample at that
    rank.

    With n samples, the p-th percentile is taken as the sample at
    0-based rank ceil(p/100 * n) - 1 (nearest rank); the samples beyond
    it are those at higher ranks.  Returns ``(p, value)``.  With fewer
    than TAIL_BEYOND + 1 samples no percentile qualifies, and the
    maximum is returned as ``(100, max)``.
    """
    if not values:
        raise ValueError("tail percentile of no values")
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return 100, s[-1]
    for p in range(99, 0, -1):
        rank = max(math.ceil(p / 100.0 * n) - 1, 0)
        if n - 1 - rank >= TAIL_BEYOND:
            return p, s[rank]
    return 1, s[0]


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


@dataclass
class Span:
    """One timed call at a layer boundary.  ``job_lo``/``job_hi`` are the
    Spark job-id watermarks read when the span opened and closed: jobs
    with ``job_lo <= id < job_hi`` were submitted while it was open."""

    span_id: int
    name: str
    start: float
    end: float = float("nan")
    parent: int | None = None
    op: str = ""  # the wave or query id the span belongs to
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
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


def self_time(span: Span, spans: Sequence[Span]) -> float:
    """A span's duration minus the part of it that its direct children
    cover.  Overlapping children (a thread pool's concurrent writes)
    count once."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.span_id]
    return span.duration - covered(kids, span.start, span.end)


@dataclass(frozen=True)
class JobStats:
    """Per-job figures read from Spark's status store."""

    job_id: int
    stages: int
    shuffle_bytes: int  # shuffle read + write over the job's stages
    run_s: float  # summed executor run time of the job's tasks
    cpu_s: float  # summed executor (JVM) CPU time of the job's tasks


@dataclass(frozen=True)
class JobTotals:
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0


def attribute_jobs(span: Span, jobs: Iterable[JobStats]) -> JobTotals:
    """Sum the jobs whose ids fall in the span's watermark range.  Jobs
    that other threads submit inside the range count too, so only spans
    that run alone at the top level should be attributed this way."""
    mine = [j for j in jobs if span.job_lo <= j.job_id < span.job_hi]
    return JobTotals(
        jobs=len(mine),
        stages=sum(j.stages for j in mine),
        shuffle_bytes=sum(j.shuffle_bytes for j in mine),
        run_s=sum(j.run_s for j in mine),
        cpu_s=sum(j.cpu_s for j in mine),
    )
