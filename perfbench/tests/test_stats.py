import pytest

from stats import MIN_BEYOND, highest_reportable, n_beyond, per_round, percentile
from workloads import Sample


def test_percentile_interpolates_linearly():
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert percentile([1.0, 2.0, 3.0], 100) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 25) == 2.0


def test_percentile_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_n_beyond_counts_samples_past_the_percentile():
    assert n_beyond(100, 90) == 10
    assert n_beyond(99, 90) == 9
    assert n_beyond(20, 50) == 10
    assert n_beyond(19, 50) == 9


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (200, 95),
     (1000, 99)],
)
def test_highest_reportable_keeps_ten_samples_beyond(n, want):
    assert highest_reportable(n) == want
    if want is not None:
        assert n_beyond(n, want) >= MIN_BEYOND


def test_per_round_sums_each_operations_median():
    samples = [Sample("query", "a", 1.0, True), Sample("query", "b", 5.0, True),
               Sample("query", "a", 3.0, True), Sample("query", "b", 7.0, True),
               Sample("query", "a", 2.0, True)]
    assert per_round(samples, lambda s: s.seconds) == 2.0 + 6.0
