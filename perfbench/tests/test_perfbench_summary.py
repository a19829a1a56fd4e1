"""Percentiles with their sample support, and failure accounting."""

import pytest
from summary import latency_summary, percentile, supported, tally


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_supported_needs_ten_samples_beyond():
    assert supported(20, 50)
    assert not supported(19, 50)
    assert supported(100, 90)
    assert not supported(99, 90)
    assert supported(200, 95)


def test_latency_summary_reports_highest_supported_tail():
    out = latency_summary([float(i) for i in range(100)])
    assert out["n"] == 100
    assert out["p50"] == pytest.approx(49.5)
    assert out["tail"] == "p90"
    assert out["p90"] == pytest.approx(89.1)
    assert "p95" not in out


def test_latency_summary_few_samples_has_median_but_no_tail():
    out = latency_summary([3.0, 1.0, 2.0])
    assert out == {"n": 3, "p50": 2.0, "tail": None}
    assert latency_summary([]) == {"n": 0, "p50": None, "tail": None}


def test_tally_counts_raised_and_wrong_results_as_failed():
    ops = [{"ok": True}, {"ok": False, "error": "boom"}, {"ok": True}, {"ok": False}]
    assert tally(ops) == {"attempted": 4, "failed": 2, "error_rate": 0.5}
    assert tally([{"ok": True}] * 3)["error_rate"] == 0.0


def test_tally_of_nothing_is_all_failed():
    assert tally([]) == {"attempted": 0, "failed": 0, "error_rate": 1.0}
