"""The percentile rule, failure accounting and span arithmetic."""

import pytest

from probe import covered, self_times
from stats import Tally, latency_summary, percentile, samples_beyond


def test_median_only_below_twenty_samples():
    s = latency_summary([float(x) for x in range(1, 20)])
    assert s == {"n": 19, "p50": 10.0, "tail_pct": None, "tail": None}


def test_empty_sample_reports_nothing():
    assert latency_summary([]) == {"n": 0, "p50": None, "tail_pct": None, "tail": None}


@pytest.mark.parametrize("n, pct", [
    (20, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_highest_percentile_with_ten_samples_beyond(n, pct):
    s = latency_summary([float(x) for x in range(n)])
    assert s["n"] == n
    assert s["tail_pct"] == pct
    if pct is not None:
        assert samples_beyond(n, pct) >= 10
        assert s["tail"] == percentile([float(x) for x in range(n)], pct)


def test_nearest_rank_percentile():
    vals = [float(x) for x in range(1, 101)]
    assert percentile(vals, 90) == 90.0
    assert percentile(vals, 50) == 50.0
    assert percentile([3.0, 1.0, 2.0], 100) == 3.0


def test_error_rate_counts_each_failed_operation_once():
    t = Tally()
    ops = [t.attempt() for _ in range(4)]
    t.fail(ops[1], "raised")
    t.fail(ops[1], "wrong result")  # same operation: still one failure
    t.fail(ops[3], "wrong result")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.error_rate == 0.5
    assert t.reasons() == ["raised", "wrong result"]


def test_error_rate_without_operations_is_zero():
    assert Tally().error_rate == 0.0


def test_failing_an_unknown_operation_is_an_error():
    t = Tally()
    t.attempt()
    with pytest.raises(ValueError):
        t.fail(2, "no such operation")


def test_self_time_subtracts_overlapping_children():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 3.0, "parent": 0},
        {"start": 2.0, "end": 5.0, "parent": 0},
        {"start": 8.0, "end": 9.0, "parent": 0},
        {"start": 8.5, "end": 9.0, "parent": 3},
    ]
    assert self_times(spans) == [5.0, 2.0, 3.0, 0.5, 0.5]


def test_coverage_clips_to_the_window():
    assert covered([(0.0, 4.0), (3.0, 6.0), (9.0, 12.0)], 2.0, 10.0) == 5.0
