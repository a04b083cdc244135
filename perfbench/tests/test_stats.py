import pytest

import stats


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(100))
    t = stats.tail(xs)
    assert t == {"value": 89, "percentile": 90.0, "count": 100, "supported": True}
    assert sum(x > t["value"] for x in xs) == 10
    t = stats.tail(range(1000))
    assert (t["value"], t["percentile"], t["count"]) == (989, 99.0, 1000)


def test_tail_unsupported_below_twenty_samples():
    assert stats.tail([3, 1, 2]) == {"value": 3, "percentile": 100.0, "count": 3,
                                     "supported": False}
    t = stats.tail(range(20))
    assert t["supported"] and t["value"] == 9 and t["percentile"] == 50.0


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])
