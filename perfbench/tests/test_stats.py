"""Unit tests of the benchmark's estimators (``perfbench/stats.py``).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartiles_match_statistics_quantiles():
    xs = [float(x) for x in [7, 1, 9, 3, 5, 11, 2, 8, 4, 10]]
    q1, q2, q3 = stats.quartiles(xs)
    assert [q1, q2, q3] == statistics.quantiles(xs, n=4)
    assert q2 == statistics.median(xs)
    assert q1 < q2 < q3


def test_quartiles_single_sample():
    assert stats.quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_spread_is_iqr_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([2.0, 2.0, 2.0]) == 0.0


def test_top_percentile_needs_ten_beyond():
    assert stats.top_percentile(list(range(10))) is None
    # 11 samples: only the lowest sample has ten beyond it
    p, v = stats.top_percentile([float(x) for x in range(11)])
    assert v == 0.0 and p == 9.0
    # 100 samples: the 90th percentile leaves exactly ten beyond it
    xs = [float(x) for x in range(1, 101)]
    p, v = stats.top_percentile(xs)
    assert (p, v) == (90.0, 90.0)
    assert sum(1 for x in xs if x > v) == 10


def test_top_percentile_ignores_input_order():
    xs = [float(x) for x in range(1, 201)]
    assert stats.top_percentile(xs[::-1]) == stats.top_percentile(xs) == (95.0, 190.0)


def test_scaling_efficiency():
    assert stats.scaling_efficiency(400.0, 100.0, 4) == 1.0
    assert stats.scaling_efficiency(260.0, 100.0, 4) == pytest.approx(0.65)
    with pytest.raises(ValueError):
        stats.scaling_efficiency(1.0, 0.0, 4)


def test_count_failures_all_match():
    truth = {"a": "x", "b": "y"}
    assert stats.count_failures(truth, [("a", "x"), ("b", "y")]) == (2, 0)


def test_count_failures_mismatch_lost_extra_and_duplicate():
    truth = {"a": "x", "b": "y", "c": "z"}
    rows = [("a", "x"), ("b", "WRONG"), ("d", "q"), ("a", "x")]
    # b mismatched, c lost, d unexpected, a duplicated
    assert stats.count_failures(truth, rows) == (3, 4)


def test_error_rate():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
