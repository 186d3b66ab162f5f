import pytest

from perfbench.stats import MIN_BEYOND, median, percentile, samples_beyond, tail_percentile


def test_nearest_rank_percentile():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    assert median(list(range(1, 101))) == 50
    with pytest.raises(ValueError):
        percentile([], 50)


def test_p90_needs_a_hundred_samples():
    assert samples_beyond(100, 90) == MIN_BEYOND
    assert samples_beyond(99, 90) == MIN_BEYOND - 1
    assert tail_percentile(list(range(100))) == (90, 89)
    # one sample short: p90 has only 9 beyond, p75 is the highest with 10
    assert tail_percentile(list(range(99)))[0] == 75


def test_tail_falls_back_to_median_then_to_nothing():
    assert tail_percentile(list(range(20))) == (50, 9)
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile([]) is None
    assert tail_percentile(list(range(1000)))[0] == 99
