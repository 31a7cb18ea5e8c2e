"""Median, quartile and spread helpers of the benchmark.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

import statistics

import pytest

from perfbench.stats import median, quartiles, relative_spread


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        median([])


def test_quartiles_match_statistics_quantiles():
    values = [10.0, 12.0, 11.0, 13.0, 9.0, 14.0, 10.5, 12.5, 11.5, 30.0]
    assert quartiles(values) == tuple(statistics.quantiles(values, n=4))
    q1, q2, q3 = quartiles(values)
    assert q1 <= q2 <= q3 and q2 == median(values)


def test_relative_spread_is_iqr_over_median():
    values = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert relative_spread(values) == pytest.approx((q3 - q1) / q2)
    assert relative_spread([7.0] * 10) == 0.0


def test_quartiles_need_two_values():
    with pytest.raises(ValueError):
        quartiles([1.0])
