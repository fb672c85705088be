"""``bench.py`` keeps the previous run's slowest queries in its inline
map, read from the previous full report."""

from __future__ import annotations

import json

import bench


def test_previous_top_reads_slowest_of_previous_report(tmp_path):
    report = tmp_path / "BENCH_LOCAL_LATEST.json"
    times = {f"q{i:02d}": float(i) for i in range(15)}
    report.write_text(json.dumps({"queries": times}))
    assert bench._previous_top(str(report)) == [f"q{i:02d}" for i in range(14, 4, -1)]


def test_previous_top_empty_without_a_report(tmp_path):
    assert bench._previous_top(str(tmp_path / "missing.json")) == []
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert bench._previous_top(str(bad)) == []
    bad.write_text(json.dumps({"value": 1.0}))
    assert bench._previous_top(str(bad)) == []
