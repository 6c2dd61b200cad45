import pytest

import stats


def test_tail_is_highest_percentile_with_ten_beyond():
    values = list(range(100, 0, -1))  # unsorted on purpose
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_with_few_samples_is_a_low_percentile_not_the_max():
    value, pct, n = stats.tail([float(i) for i in range(1, 21)])
    assert (value, pct, n) == (10.0, 50.0, 20)
    assert stats.tail(list(range(11)))[:2] == (0, 9.0)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_fails_loudly_without_ten_samples_beyond(n):
    with pytest.raises(ValueError, match="need at least 11"):
        stats.tail(list(range(n)))


def test_median():
    assert stats.median([3, 1, 2, 10]) == 2.5
