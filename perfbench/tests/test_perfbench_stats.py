"""The benchmark's pure statistics on tiny fixtures."""

import math

import pytest

from stats import TAIL_BEYOND, covered, merge_intervals, percentile, self_times, tail_percentile


def _beyond(values, p):
    return len(values) - math.ceil(p / 100 * len(values))


@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 40, 100, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    values = list(range(n))
    p = tail_percentile(n)
    assert _beyond(values, p) >= TAIL_BEYOND
    # and it is the highest whole percentile that does
    assert p == 100 or _beyond(values, p + 1) < TAIL_BEYOND


def test_tail_percentile_values():
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(10) is None
    assert tail_percentile(3) is None


def test_more_samples_keep_at_least_ten_beyond_a_fixed_percentile():
    p = tail_percentile(40)
    for n in range(40, 200):
        assert _beyond(list(range(n)), p) >= TAIL_BEYOND


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_merge_and_cover_intervals():
    ivs = [(3.0, 5.0), (0.0, 1.0), (4.0, 6.0), (0.5, 0.8), (7.0, 7.0)]
    assert merge_intervals(ivs) == [(0.0, 1.0), (3.0, 6.0)]
    assert covered(ivs, 0.0, 10.0) == pytest.approx(4.0)
    # clipped to the window
    assert covered(ivs, 0.5, 4.0) == pytest.approx(1.5)
    assert covered([], 0.0, 1.0) == 0.0


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two overlapping children count once: [1, 4]
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 4.0},
        # a grandchild only reduces its own parent
        {"id": 4, "parent": 3, "start": 2.5, "end": 3.5},
        # a child running past its parent's end (another thread) is clipped
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 3.0 - 1.0)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(1.0)
    assert own[5] == pytest.approx(3.0)

