import pytest

from cdcbench.stats import p50, tail


def test_tail_is_the_sample_with_ten_beyond_it():
    values = list(range(1, 101))  # 1..100
    value, q, n = tail(values)
    # 90 has exactly ten samples (91..100) above it
    assert (value, q, n) == (90, 0.9, 100)
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order():
    values = [float(v) for v in range(40, 0, -1)]
    value, q, n = tail(values)
    assert value == 30.0 and q == 0.75 and n == 40


def test_tail_falls_back_to_median_when_sample_is_small():
    # 19 samples: the only percentile with ten beyond it is below p50
    values = list(range(19))
    assert tail(values) == (p50(values), 0.5, 19)
    assert tail([3.0]) == (3.0, 0.5, 1)


def test_tail_falls_back_to_median_at_twenty_samples():
    # 20 samples: the sample with ten beyond it (9) is below the median (9.5)
    values = list(range(20))
    assert tail(values) == (9.5, 0.5, 20)


def test_tail_at_the_smallest_supported_sample():
    values = list(range(21))
    value, q, n = tail(values)
    assert value == 10 == p50(values) and q == 11 / 21 and n == 21


def test_p50_rejects_empty():
    with pytest.raises(ValueError):
        p50([])

