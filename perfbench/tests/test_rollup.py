"""Unit tests of the benchmark's pure helpers: order statistics, interval
arithmetic, self times and the event-log rollup on a checked-in miniature
uncompressed Spark event log (two job groups, six jobs, four skipped
stages, one stage with Python-worker traffic).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import rollup  # noqa: E402

MINI_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "mini_eventlog.jsonl")


def test_tail_needs_ten_samples_beyond():
    assert rollup.tail(list(range(10))) == (None, None, 10)
    assert rollup.tail([float(i) for i in range(1, 12)]) == (1.0, 9.09, 11)
    assert rollup.tail([float(i) for i in range(1, 21)]) == (10.0, 50.0, 20)
    value, pct, n = rollup.tail([float(i) for i in range(100, 0, -1)])
    assert (value, pct, n) == (90.0, 90.0, 100)


def test_median():
    assert rollup.median([]) == 0.0
    assert rollup.median([3.0, 1.0, 2.0]) == 2.0


def test_intervals():
    assert rollup.union([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert rollup.length([(0, 1), (0.5, 2), (3, 4)]) == 3
    assert rollup.clip([(0, 2), (3, 6)], 1, 4) == [(1, 2), (3, 4)]
    assert rollup.uncovered(0, 10, [(1, 2), (1.5, 3), (9, 12)]) == 7


def test_self_times_subtract_children_and_busy():
    spans = [
        {"id": 1, "parent": None, "layer": "driver", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "suite", "start": 1.0, "end": 5.0},
        {"id": 3, "parent": 2, "layer": "sources", "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "layer": "sources", "start": 6.0, "end": 7.0},
    ]
    # one Spark job 2.5-4 and one 8-9
    busy = [(2.5, 4.0), (8.0, 9.0)]
    got = rollup.self_times(spans, busy)
    assert got["driver"] == pytest.approx(10 - 4 - 1 - 1)  # children 1-5, 6-7; job 8-9
    assert got["suite"] == pytest.approx(4 - 1 - 1)  # child 2-3, job 3-4 outside the child
    assert got["sources"] == pytest.approx(0.5 + 1.0)


def test_read_event_log_keeps_run_stages_only():
    log = rollup.read_event_log(MINI_LOG)
    assert sorted(log["jobs"]) == [0, 1, 2, 3, 4, 5]
    assert [log["jobs"][j]["group"] for j in range(6)] == ["op-1"] * 3 + ["op-2"] * 3
    # stages 1, 3, 4 and 8 were skipped (their shuffle output was reused)
    assert sorted(s for s, st in log["stages"].items() if st["tasks"]) == [0, 2, 5, 6, 7, 9]


def test_rollup_group_sums_per_job_group():
    log = rollup.read_event_log(MINI_LOG)
    g = rollup.rollup_group(log, "op-1")
    assert (g["jobs"], g["stages"], g["tasks"]) == (3, 3, 6)
    assert g["stage_run_s"] == pytest.approx(6.03)
    assert g["gc_s"] == pytest.approx(0.066)
    assert g["shuffle_write_bytes"] == g["shuffle_read_bytes"] == 19859
    assert g["python_bytes"] == 25488  # mapInPandas: sent + returned
    assert g["action_s"] == pytest.approx(0.697 + 2.903 + 0.283, abs=1e-3)
    assert g["task_skew"] == pytest.approx(2.621 / 2.557)
    h = rollup.rollup_group(log, "op-2", start=1792205801.7, end=1792205802.1)
    assert (h["jobs"], h["tasks"], h["input_bytes"], h["python_bytes"]) == (3, 5, 7632, 0)
    assert h["jobs_in_window"] == 2
    assert rollup.rollup_group(log, "absent")["jobs"] == 0

