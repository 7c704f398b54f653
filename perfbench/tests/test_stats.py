import numpy as np
import pytest

import stats


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(1.0, 257))
    for q in (0.0, 0.1, 0.5, 0.9, 0.99, 1.0):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q * 100))


def test_tail_needs_ten_samples_beyond():
    for q in (0.5, 0.9, 0.99):
        n = stats.min_samples_for(q)
        xs = [float(i) for i in range(n)]
        assert stats.samples_beyond(xs, q) >= 10
        assert stats.supported_tail(xs, q)
        assert not stats.supported_tail(xs[:-1], q)
    assert stats.min_samples_for(0.9) == 92
    hundred = [float(i) for i in range(100)]
    assert stats.samples_beyond(hundred, 0.9) == 10
    assert not stats.supported_tail([], 0.9)


def test_ties_do_not_count_as_beyond():
    xs = [1.0] * 50 + [2.0] * 50
    assert stats.samples_beyond(xs, 0.9) == 0
    assert not stats.supported_tail(xs, 0.9)


def test_geomean_and_bad_input():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
