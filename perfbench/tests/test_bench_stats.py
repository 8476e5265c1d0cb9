import pytest

from stats import percentile, tail, tail_percentile


def test_no_tail_below_twenty_samples():
    assert tail_percentile(0) is None
    assert tail_percentile(19) is None
    assert tail([1.0] * 19) is None


def test_tail_percentile_leaves_ten_beyond():
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    for n in range(20, 2000):
        p = tail_percentile(n)
        xs = list(range(n))
        v = percentile(xs, p)
        assert sum(x > v for x in xs) >= 10
        # one percentile higher leaves fewer than ten beyond
        v1 = percentile(xs, p + 1)
        assert sum(x > v1 for x in xs) < 10


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_value():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90, 90.0)
