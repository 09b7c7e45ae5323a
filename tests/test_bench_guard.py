"""bench.py guard rails (VERDICT r12 #7 + ADVICE r12): the probe-band
regression alarm and the frozen-probe-set completeness check are pure
functions, unit-tested with injected thresholds — no Spark session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import check_probe_band, probe_split_total  # noqa: E402


def test_probe_band_quiet_inside_band():
    assert check_probe_band(14.2, warn_sec=16.5) is None
    assert check_probe_band(16.5, warn_sec=16.5) is None  # at threshold


def test_probe_band_warns_past_threshold():
    msg = check_probe_band(17.1, warn_sec=16.5)
    assert msg is not None and "WARNING" in msg and "17.1" in msg
    # injected threshold: the alarm moves with the band, not a constant
    assert check_probe_band(5.1, warn_sec=5.0) is not None


def test_probe_split_total_sums_search_legs():
    splits = {"a": {"build_sec": 9.0, "search_sec": 1.5},
              "b": {"build_sec": 0.1, "search_sec": 2.25},
              "extra": {"build_sec": 0.0, "search_sec": 99.0}}
    assert probe_split_total(splits, ["a", "b"]) == 3.75


def test_probe_split_total_raises_on_missing_fixture():
    """A renamed/dropped frozen fixture must FAIL the bench, not silently
    shrink the frozen headline_probe_sec baseline."""
    splits = {"a": {"build_sec": 0.0, "search_sec": 1.0}}
    with pytest.raises(RuntimeError, match="missing from store_splits"):
        probe_split_total(splits, ["a", "gone_query"])


def test_per_query_lines_cover_everything_slowest_last():
    from bench import per_query_lines
    import json as _json

    times = {f"q{i:03d}": i / 10.0 for i in range(120)}
    lines = per_query_lines(times, max_chars=300)
    assert all(len(ln) <= 300 for ln in lines)
    seen: dict[str, float] = {}
    parts = []
    for ln in lines:
        rec = _json.loads(ln)
        assert rec["metric"] == "per_query_sec"
        parts.append(rec["part"])
        seen.update(rec["queries"])
    assert seen == times                      # nothing dropped
    assert parts == list(range(1, len(lines) + 1))
    # the LAST line carries the slowest queries (tail-window priority)
    last = _json.loads(lines[-1])["queries"]
    assert max(times.values()) in last.values()
    first = _json.loads(lines[0])["queries"]
    assert min(times.values()) in first.values()


def test_per_query_lines_budget_for_multi_digit_parts():
    """With ten or more chunks the part/of indices are two digits wide;
    every line must still fit ``max_chars``, and be filled close to it."""
    from bench import per_query_lines
    import json as _json

    times = {f"query_{i:03d}": 1.0 + i / 1000.0 for i in range(222)}
    for max_chars in range(120, 200):
        lines = per_query_lines(times, max_chars=max_chars)
        assert len(lines) >= 10
        assert all(len(ln) <= max_chars for ln in lines), max_chars
        seen = {}
        for ln in lines:
            seen.update(_json.loads(ln)["queries"])
        assert seen == times


def test_summary_queries_fits_window_and_keeps_slowest():
    from bench import HEADLINE, PROBE_HEADLINE, summary_queries
    import json as _json

    times = {n: 3.0 + i for i, n in enumerate((*HEADLINE, *PROBE_HEADLINE))}
    times["unrelated_query"] = 99.0
    keep = summary_queries(times, max_chars=400)
    assert "unrelated_query" not in keep      # frozen sets only
    assert len(_json.dumps(keep, separators=(",", ":"))) <= 400
    # trimming drops the CHEAPEST frozen entries first
    assert max(keep, key=keep.get) in keep
    full = summary_queries(times, max_chars=100000)
    assert set(full) == {*HEADLINE, *PROBE_HEADLINE}
