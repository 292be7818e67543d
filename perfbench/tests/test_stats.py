import math

import pytest

from stats import failed_share, geomean, kind_geomean, tail


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            geomean(bad)


def test_kind_geomean_takes_each_kinds_median_first():
    # the 100 s outlier of kind "a" does not move a's median of 1
    assert kind_geomean({"a": [1.0, 1.0, 100.0], "b": [4.0]}) == pytest.approx(2.0)
    # a kind with many samples weighs the same as a kind with one
    assert kind_geomean({"a": [1.0] * 50, "b": [9.0]}) == pytest.approx(3.0)


def test_tail_keeps_ten_samples_beyond():
    samples = [float(x) for x in range(1, 21)]  # 1..20, shuffled below
    value, pct = tail(samples[::-1])
    assert value == 10.0
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(50.0)


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct = tail([5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100.0 / 11)


def test_tail_high_percentile_with_many_samples():
    samples = [float(x) for x in range(1000)]
    value, pct = tail(samples)
    assert value == 989.0
    assert pct == pytest.approx(99.0)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_failed_share():
    assert failed_share(0, 5) == 0.0
    assert failed_share(2, 8) == pytest.approx(0.25)
    assert failed_share(3, 3) == 1.0
    for failed, attempted in ((0, 0), (4, 3), (-1, 3)):
        with pytest.raises(ValueError):
            failed_share(failed, attempted)
    assert not math.isnan(failed_share(0, 1))
