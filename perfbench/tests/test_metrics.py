"""The benchmark's metric math on synthetic inputs; no Spark needed.

    python3 -m pytest perfbench/tests/test_metrics.py -q
"""

from __future__ import annotations

import math

import pytest

from perfbench.metrics import (
    JobStats,
    Span,
    attribute_jobs,
    covered,
    failed_ratio,
    geomean,
    median,
    self_time,
    tail_percentile,
)


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 69)]  # 68 leaves, as in the registry
    p, v = tail_percentile(values)
    assert (p, v) == (85, 58.0)
    assert sum(1 for x in values if x > v) == 10
    # one percentile higher would leave only nine beyond
    assert sum(1 for x in values if x > values[math.ceil(0.86 * 68) - 1]) == 9


def test_tail_percentile_with_few_samples_is_the_maximum():
    assert tail_percentile([5.0, 1.0, 3.0]) == (100, 5.0)
    assert tail_percentile([float(v) for v in range(10)]) == (100, 9.0)
    # eleven samples: only the lowest has ten beyond it
    p, v = tail_percentile([float(v) for v in range(11)])
    assert v == 0.0 and math.ceil(p / 100 * 11) - 1 == 0


def test_tail_percentile_is_order_free():
    values = [0.3, 2.5, 0.1, 9.0, 1.2] * 5
    assert tail_percentile(values) == tail_percentile(sorted(values))


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert geomean([2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_failed_ratio():
    assert failed_ratio(0, 68) == 0.0
    assert failed_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        failed_ratio(0, 0)
    with pytest.raises(ValueError):
        failed_ratio(5, 4)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6), (8, 12)], 0, 10) == pytest.approx(7.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(11, 12)], 0, 10) == 0.0


def test_self_time_counts_overlapping_children_once():
    wave = Span(0, "wave", start=0.0, end=10.0)
    spans = [
        wave,
        # two concurrent pool writes overlapping in [3, 4]
        Span(1, "storage.write.seen", start=1.0, end=4.0, parent=0),
        Span(2, "storage.write.frontier", start=3.0, end=6.0, parent=0),
        # a child running past the parent's end is clipped
        Span(3, "storage.commit", start=8.0, end=12.0, parent=0),
        # a grandchild is already inside its parent's interval
        Span(4, "inner", start=1.5, end=2.0, parent=1),
        # a span of another parent does not count
        Span(5, "other", start=6.0, end=7.0, parent=9),
    ]
    assert self_time(wave, spans) == pytest.approx(3.0)
    assert self_time(spans[1], spans) == pytest.approx(2.5)


def test_attribute_jobs_by_id_range():
    jobs = [
        JobStats(job_id=i, stages=2, shuffle_bytes=100 * i, run_s=1.0, cpu_s=0.5)
        for i in range(10)
    ]
    sp = Span(0, "extract", start=0.0, end=1.0, job_lo=3, job_hi=6)
    t = attribute_jobs(sp, jobs)
    assert t.jobs == 3
    assert t.stages == 6
    assert t.shuffle_bytes == 300 + 400 + 500
    assert t.run_s == pytest.approx(3.0)
    assert t.cpu_s == pytest.approx(1.5)
    empty = Span(1, "priority", start=0.0, end=1.0, job_lo=10, job_hi=10)
    assert attribute_jobs(empty, jobs).jobs == 0
