import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5]) == pytest.approx(0.5)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_query_geomean_takes_each_ids_median_first():
    # a: median 1.0 (the 100 s outlier is ignored); b: median 4.0.
    lat = {"a": [1.0, 100.0, 0.9, 1.0, 1.1], "b": [4.0, 4.0, 3.0, 5.0, 4.0]}
    assert stats.query_geomean(lat) == pytest.approx(2.0)


def test_one_slow_id_cannot_dominate_the_geomean():
    base = {f"q{i}": [1.0] for i in range(8)}
    slow = dict(base, q0=[16.0])
    assert stats.query_geomean(slow) == pytest.approx(16.0 ** (1 / 8))


def test_ok_frac():
    assert stats.ok_frac(10, 0) == 1.0
    assert stats.ok_frac(10, 3) == pytest.approx(0.7)
    assert stats.ok_frac(4, 4) == 0.0
    assert stats.ok_frac(0, 0) == 0.0


def test_ok_frac_rejects_impossible_counts():
    for attempted, failed in ((3, 4), (-1, 0), (3, -1)):
        with pytest.raises(ValueError):
            stats.ok_frac(attempted, failed)

