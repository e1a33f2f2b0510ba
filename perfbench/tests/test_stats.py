"""The benchmark's own arithmetic: tail percentile rule, prefix
differences, quartile spread."""

import pytest

from perfbench import stats


@pytest.mark.parametrize("n, p", [(100, 90), (109, 90), (110, 90), (50, 80), (20, 50), (11, 9)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    values = list(range(n))
    cut = stats.nearest_rank(values, p)
    assert sum(v > cut for v in values) >= 10
    # one percentile higher leaves fewer than ten beyond
    higher = stats.nearest_rank(values, p + 1)
    assert sum(v > higher for v in values) < 10


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    assert stats.tail_percentile(n) is None


def test_nearest_rank():
    v = [5, 1, 4, 2, 3]
    assert stats.nearest_rank(v, 50) == 3
    assert stats.nearest_rank(v, 90) == 5
    assert stats.nearest_rank(v, 0) == 1
    assert stats.nearest_rank(list(range(1, 101)), 90) == 90


def test_prefix_self_times_are_differences():
    # scan 0.6 s, +pip 0.8 s, +keying/agg 0.5 s
    assert stats.prefix_self_times([0.6, 1.4, 1.9]) == pytest.approx([0.6, 0.8, 0.5])
    assert sum(stats.prefix_self_times([0.6, 1.4, 1.9])) == pytest.approx(1.9)


def test_prefix_self_time_can_be_negative_when_noise_exceeds_the_stage():
    assert stats.prefix_self_times([1.0, 0.9]) == pytest.approx([1.0, -0.1])


def test_quartile_spread_matches_statistics_quantiles():
    v = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    # quantiles(n=4) exclusive: q1 = 11.75, q2 = 14.5, q3 = 17.25
    assert stats.quartile_spread(v) == pytest.approx((17.25 - 11.75) / 14.5)
