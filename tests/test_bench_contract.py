"""bench.py's final contract line stays under the 2000-char capture."""

from __future__ import annotations

import json

import bench


def test_headline_line_keeps_the_per_query_map():
    timings = {name: 1.23456 for name in bench.HEADLINE}
    line = bench.contract_line(57.9, timings, 0.1, 68.9, [3.3, 3.1, 2.9])
    assert len(line) < bench.CONTRACT_LINE_MAX
    rec = json.loads(line)
    assert rec["value"] == 57.9
    assert rec["queries"] == {name: 1.23 for name in bench.HEADLINE}


def test_overlong_line_falls_back_to_the_compact_form(capsys):
    timings = {f"query_with_a_long_name_{i:03d}": 1.0 for i in range(200)}
    line = bench.contract_line(57.9, timings, 0.1, 68.9, [3.3, 3.1, 2.9])
    assert len(line) < bench.CONTRACT_LINE_MAX
    rec = json.loads(line)
    assert "queries" not in rec
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["value"] == 57.9
    assert "dropping its per-query map" in capsys.readouterr().err
