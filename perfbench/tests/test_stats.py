"""Self-tests for the benchmark's arithmetic (``perfbench/stats.py``).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100, shuffled order irrelevant
    t = stats.tail(list(reversed(values)))
    # rank 89 (value 90) has exactly ten samples (91..100) above it
    assert t == {"value": 90.0, "percentile": 90.0, "n": 100, "beyond": 10}


def test_tail_small_samples():
    assert stats.tail([1.0] * 10) is None          # nothing leaves ten beyond
    t = stats.tail([5.0, 1.0, 3.0] + [9.0] * 8)    # n = 11 → the minimum
    assert t == {"value": 1.0, "percentile": 100.0 / 11, "n": 11, "beyond": 10}


def test_union_and_covered():
    assert stats.union([(3, 4), (0, 1), (0.5, 2), (2, 2.5), (5, 5)]) == [(0, 2.5), (3, 4)]
    assert stats.covered([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert stats.covered([(0, 10)], within=(2, 5)) == 3.0
    assert stats.covered([(-5, -1), (11, 12)], within=(0, 10)) == 0.0


def test_driver_gap_is_wall_minus_union_of_jobs():
    wall = (100.0, 110.0)
    jobs = [(101.0, 103.0), (102.0, 104.0),   # overlapping: union 101..104
            (106.0, 107.0),
            (109.5, 112.0)]                   # runs past the wall: clipped
    assert stats.driver_gap(wall, jobs) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert stats.driver_gap(wall, []) == 10.0


def test_self_time_nested_spans():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "start": 6.0, "end": 7.0},
    ]
    assert stats.self_times(spans) == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}


def test_self_time_concurrent_children_count_once():
    # the alert pool: two threads' run_alert spans overlap under one batch span
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 8.0},
        {"id": 4, "parent": 1, "start": 3.0, "end": 5.0},
        # a child that outlives its parent only covers the parent's interval
        {"id": 5, "parent": 3, "start": 7.0, "end": 9.0},
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 7.0)   # union of children is 1..8
    assert st[3] == pytest.approx(6.0 - 1.0)    # child covers 7..8 of it
    assert st[2] == 5.0 and st[4] == 2.0 and st[5] == 2.0


def test_failed_frac_counts_mismatch_as_failure():
    attempted, failed, frac = stats.failed_frac(
        ["ok", "ok", "row count: spark=3 oracle=4", "error: boom"])
    assert (attempted, failed, frac) == (4, 2, 0.5)
    assert stats.failed_frac(["ok"] * 5) == (5, 0, 0.0)
    assert stats.failed_frac([]) == (0, 0, 0.0)

