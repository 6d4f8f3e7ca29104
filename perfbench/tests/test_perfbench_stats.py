import math

import pytest

from stats import (
    beyond, geomean, p50, percentile, speed_factor, summarize, tail, union_length,
)


def test_nearest_rank_percentiles():
    xs = list(range(1, 101))  # 1..100
    assert p50(xs) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 50) == 7.0
    assert p50([3, 1, 2]) == 2


def test_tail_needs_ten_samples_beyond_it():
    assert beyond(100, 90) == 10
    assert tail(list(range(1, 101)), 90) == 90
    assert tail(list(range(1, 100)), 90) is None
    assert beyond(99, 90) == 9


def test_failures_count_over_every_limit():
    s = summarize([0.001] * 95, failed=5)
    assert s["n"] == 100 and s["failed"] == 5
    assert s["p50_ms"] == pytest.approx(1.0)
    assert s["p90_ms"] == pytest.approx(1.0)
    s = summarize([0.001] * 50, failed=50)
    assert math.isinf(s["p90_ms"])


def test_summary_counts_and_missing_tail():
    s = summarize([0.002, 0.001, 0.003])
    assert s == {"n": 3, "failed": 0, "p50_ms": pytest.approx(2.0), "p90_ms": None}


def test_geomean_and_union():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_speed_factor_scales_to_the_reference_probe_time():
    # median probe 40 ms against a 20 ms reference: the host ran at half speed
    assert speed_factor([0.030, 0.040, 0.100], 20.0) == pytest.approx(0.5)
    assert speed_factor([0.020], 20.0) == pytest.approx(1.0)
