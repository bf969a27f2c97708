"""The tail rule: the highest percentile with at least 10 samples beyond it."""

import math

from perfbench import stats


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([float(i) for i in range(1, 12)]) == (1.0, 100 / 11, 11)


def test_tail_leaves_exactly_ten_beyond():
    values = [float(i) for i in range(1, 201)]
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (190.0, 95.0, 200)
    assert sum(v > value for v in values) == 10
    assert stats.tail(values[:20])[:2] == (10.0, 50.0)


def test_failed_ops_count_beyond_the_tail():
    values = [float(i) for i in range(1, 21)]
    value, pct, n = stats.tail(values, failed=5)
    assert n == 25 and value == 15.0 and pct == 60.0
    assert stats.tail([1.0], failed=11)[0] == math.inf


def test_quarter_p50s():
    assert stats.quarter_p50s([1, 2, 3, 4, 5, 6, 7, 8]) == (1.5, 7.5)
    assert stats.quarter_p50s([4.0]) == (4.0, 4.0)
