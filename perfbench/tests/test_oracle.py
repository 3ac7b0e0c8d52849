"""The last-write-wins replay on hand-built event sequences."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402


def row(key, v):
    return {"id": key, "v": v}


def test_delete_then_recreate_and_out_of_order_offset():
    events = [
        (1, "c", row(1, "a")),
        (2, "c", row(2, "b")),
        (3, "d", row(1, "a")),  # delete key 1 ...
        (5, "c", row(1, "a2")),  # ... then recreate it
        (7, "u", row(2, "b3")),
        (6, "u", row(2, "b2")),  # arrives after offset 7: must lose
        (4, "u", row(3, "stale")),  # key 3 first seen with a low offset
        (8, "d", row(3, "stale")),
    ]
    assert oracle.replay(events) == {1: (5, row(1, "a2")), 2: (7, row(2, "b3"))}


def test_late_delete_with_lower_offset_loses():
    events = [(10, "u", row(1, "new")), (9, "d", row(1, "old"))]
    assert oracle.replay(events) == {1: (10, row(1, "new"))}


def test_diff_keys_reports_missing_extra_and_wrong():
    expected = {1: "a", 2: "b", 3: "c"}
    actual = {1: "a", 2: "x", 4: "d"}
    assert oracle.diff_keys(expected, actual) == {2, 3, 4}


def test_read_events_filters_by_released_files(tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"file": "a", "events": [[0, "c", {"id": 1}]]}\n'
        '{"file": "b", "events": [[1, "u", {"id": 1}], [2, "c", {"id": 2}]]}\n'
    )
    assert [e[0] for e in oracle.read_events(str(p), {"b"})] == ["b", "b"]
    assert len(list(oracle.read_events(str(p)))) == 3
