"""The tail-percentile rule: the highest percentile with at least ten
samples beyond it."""

import pytest

from pdcmbench.stats import MIN_TAIL_SAMPLES, percentile, tail, tail_percentile


@pytest.mark.parametrize("n", [1, 5, 10])
def test_no_percentile_without_enough_samples(n):
    assert tail_percentile(n) is None
    assert tail(list(range(n))) is None


@pytest.mark.parametrize("n", list(range(11, 400)) + [1000, 1234, 10_000])
def test_highest_percentile_with_ten_beyond(n):
    values = [float(v) for v in range(n)]
    p = tail_percentile(n)
    beyond = sum(1 for v in values if v > percentile(values, p))
    assert beyond == MIN_TAIL_SAMPLES
    # any higher percentile the sample distinguishes leaves fewer beyond
    higher = percentile(values, min(100.0, p + 100.0 / n))
    assert sum(1 for v in values if v > higher) < MIN_TAIL_SAMPLES


def test_p99_needs_a_thousand_samples():
    assert tail_percentile(999) < 99.0
    assert tail_percentile(1000) == 99.0


def test_tail_value_is_that_percentile():
    values = [float(v) for v in range(200)]
    assert tail(values) == (95.0, 189.0)
