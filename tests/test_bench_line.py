"""``bench.py``'s printed record line: it always carries ``"queries"``,
drops ``queries_cold`` to fit the consumer's ~2000-char stdout tail, and
refuses to print (non-zero exit) a line that still does not fit."""

from __future__ import annotations

import json

import pytest

import bench


def _record(n_queries: int, name_len: int = 10) -> dict:
    names = [f"q{i:0{name_len}d}" for i in range(n_queries)]
    timings = {n: 1.234 for n in names}
    return {"metric": "headline_suite_total", "unit": "sec", "sf": 0.1,
            "queries": timings, "queries_cold": timings, "queries_warm": timings,
            "warm_total": 1.0, "warm_median_total": 1.0, "value": 1.0}


def test_small_record_keeps_every_printed_map():
    line = bench.printed_line(_record(5))
    got = json.loads(line)
    assert set(got) == {"metric", "unit", "sf", "queries", "queries_cold",
                        "warm_total", "warm_median_total", "value"}


def test_cold_map_dropped_to_fit_the_budget():
    record = _record(60)
    line = bench.printed_line(record)
    assert len(line) <= bench.LINE_BUDGET
    got = json.loads(line)
    assert "queries_cold" not in got
    assert got["queries"] == record["queries"]


def test_over_budget_without_cold_map_exits_nonzero():
    with pytest.raises(SystemExit) as exc:
        bench.printed_line(_record(200))
    assert exc.value.code not in (0, None)
