"""The percentile rule."""

import pytest

from perfbench.stats import nearest_rank, tail_percentile


def test_p90_needs_a_hundred_samples():
    xs = list(range(1, 101))
    assert tail_percentile(xs) == (90, 90)


def test_percentile_drops_to_keep_ten_samples_beyond():
    xs = list(range(1, 41))                 # 40 samples: p75 leaves 10 above
    p, v = tail_percentile(xs)
    assert p == 75
    assert sum(1 for x in xs if x > v) == 10


def test_percentile_floor_is_the_median():
    assert tail_percentile([5.0, 1.0, 3.0]) == (50, 3.0)
    assert tail_percentile([4.0, 1.0, 3.0, 2.0]) == (50, 2.5)
    assert tail_percentile(list(range(1, 20))) == (50, 10)


def test_empty_sample_is_an_error():
    with pytest.raises(ValueError):
        tail_percentile([])


def test_nearest_rank():
    assert nearest_rank([3, 1, 2, 4], 50) == 2
    assert nearest_rank([3, 1, 2, 4], 100) == 4
    assert nearest_rank([7], 90) == 7

