import pytest

from stats import tail


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))  # 100 samples
    v, pct, n = tail(values)
    assert (v, pct, n) == (90, 90.0, 100)
    assert sum(x > v for x in values) == 10


def test_tail_is_order_free():
    values = [5.0, 1.0, 3.0, 2.0, 4.0] * 5  # 25 samples
    assert tail(values) == tail(sorted(values))


def test_tail_percentile_for_pass_sized_samples():
    # 18 jobs x 2 passes: the 26th smallest, 72.2nd percentile
    v, pct, n = tail([float(i) for i in range(36)])
    assert v == 25.0 and n == 36 and round(pct, 1) == 72.2


def test_tail_with_too_few_samples_reports_percentile_zero():
    assert tail([3.0, 1.0, 2.0]) == (1.0, 0.0, 3)
    assert tail([float(i) for i in range(10)]) == (0.0, 0.0, 10)
    v, pct, _ = tail([float(i) for i in range(11)])
    assert v == 0.0 and pct == pytest.approx(100 / 11)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])
