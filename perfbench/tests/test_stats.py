import statistics

import pytest

from stats import median, percentile


def test_percentile_interpolates_between_ranks():
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile(range(1, 11), 90) == pytest.approx(9.1)
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 0) == 1 and percentile([3, 1, 2], 100) == 3


def test_median_matches_statistics():
    for xs in ([5, 1, 4], [2.5, 9.0, 1.0, 3.5], list(range(17))):
        assert median(xs) == statistics.median(xs)


def test_quartiles_match_inclusive_method():
    xs = [0.9, 1.3, 1.1, 1.7, 1.2, 1.05, 1.4, 1.0, 1.25, 1.15]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 75) == pytest.approx(q3)


@pytest.mark.parametrize("xs,q", [([], 50), ([1, 2], -1), ([1, 2], 101)])
def test_percentile_rejects_bad_input(xs, q):
    with pytest.raises(ValueError):
        percentile(xs, q)
