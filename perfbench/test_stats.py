"""Unit checks of the benchmark's own helpers:
``python3 -m pytest perfbench/test_stats.py``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    covered_time, failed_frac, percentile, self_times, summarize, tail_percentile,
)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None  # 9.5 samples beyond the median
    assert tail_percentile(20) == 50.0
    assert tail_percentile(99) == 50.0  # p90 would leave 9.9
    assert tail_percentile(100) == 90.0
    assert tail_percentile(999) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_percentile_interpolates_and_summary_reports_count():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([3.0], 90) == 3.0
    assert summarize(xs) == {"n": 100, "p50": pytest.approx(50.5), "p90": pytest.approx(90.1)}
    assert summarize([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_frac():
    assert failed_frac(0, 10) == 0.0
    assert failed_frac(3, 12) == 0.25
    for failed, attempted in ((1, 0), (0, 0), (-1, 5), (6, 5)):
        with pytest.raises(ValueError):
            failed_frac(failed, attempted)


def test_covered_time_merges_overlaps_and_clips():
    assert covered_time([], 0, 10) == 0
    assert covered_time([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_time([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered_time([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 1, "name": "eval", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "build", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "collect", "start": 3.0, "end": 9.0, "parent": 1},
        {"id": 4, "name": "job", "start": 5.0, "end": 7.0, "parent": 3},
        {"id": 5, "name": "eval", "start": 20.0, "end": 21.0, "parent": None},
    ]
    st = self_times(spans)
    # eval: 10 - |[1,9]| = 2, plus the second eval with no children: 1
    assert st["eval"] == pytest.approx(3.0)
    assert st["build"] == pytest.approx(3.0)
    assert st["collect"] == pytest.approx(4.0)
    assert st["job"] == pytest.approx(2.0)
