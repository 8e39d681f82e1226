from __future__ import annotations

import json

import pytest

import stats


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:  # and the choice really leaves >= 10 samples above it
        vals = list(range(n))
        assert sum(v > stats.percentile(vals, want) for v in vals) >= 10


def test_percentile_nearest_rank():
    vals = [5, 1, 4, 2, 3]
    assert stats.percentile(vals, 50) == 3
    assert stats.percentile(vals, 100) == 5
    assert stats.percentile(vals, 1) == 1
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_latency_summary_in_ms_with_count():
    s = stats.latency_summary([0.001 * i for i in range(1, 41)])
    assert s["n"] == 40
    assert s["p50_ms"] == pytest.approx(20.5)
    assert s["tail_pct"] == 75.0 and s["tail_ms"] == pytest.approx(30.0)


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 8) == 0.0
    assert stats.spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


def test_result_line_shape_and_validation():
    line = stats.result_line(True, 3, 0, {"x_ms": stats.metric(1.5, "ms")})
    assert json.loads(line) == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"x_ms": {"value": 1.5, "unit": "ms"}},
    }
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})
    with pytest.raises(ValueError):
        stats.result_line(False, 2, 3, {})
    with pytest.raises(ValueError):
        stats.metric(float("nan"), "ms")
