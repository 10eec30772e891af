"""The percentile rule and the spread statistic."""

import statistics

import pytest

from perfbench.stats import percentile, spread, tail_percentile


@pytest.mark.parametrize(
    "n, p",
    [(9, None), (10, 0), (11, 9), (20, 50), (50, 80), (65, 84), (99, 89),
     (100, 90), (101, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10  # p + 1 would leave fewer


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 80) == pytest.approx(4.2)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 11.1, 9.9]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == (med, q1, q3, (q3 - q1) / med)
