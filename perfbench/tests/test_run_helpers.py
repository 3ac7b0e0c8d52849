"""Helpers in run.py that need no Spark."""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def test_nearest_rank_percentile():
    vals = list(range(10, 0, -1))
    assert run.pct(vals, 50) == 5
    assert run.pct(vals, 90) == 9
    assert run.pct(vals, 100) == 10
    assert run.pct([7.0], 99) == 7.0


def test_read_plan_is_seeded_and_keeps_one_read_per_slot():
    def plan(seed):
        return run.read_plan(random.Random(seed), 30, 0.5, lambda r: r.randrange(100), lambda r: ("c", 0, 1))

    a = plan(1)
    assert a == plan(1) and a != plan(2)
    assert [k for _, k, _ in a[:3]] == list(run.READ_PATTERN)
    for i, (offset, _, _) in enumerate(a):
        assert i * 0.5 <= offset < (i + 1) * 0.5
