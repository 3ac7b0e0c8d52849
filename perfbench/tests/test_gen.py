"""The generator is a pure function of its seed: same seed, same bytes."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads as W  # noqa: E402


def digest(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(base, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def build(tmp_path, name: str, workload: str, seed: int) -> dict[str, str]:
    work = tmp_path / name
    work.mkdir()
    gen.build(workload, seed, 1, str(work))
    return digest(str(work))


@pytest.mark.parametrize("workload", ["steady_upsert", "backfill_avro"])
def test_same_seed_same_bytes(tmp_path, workload):
    a = build(tmp_path, "a", workload, 7)
    b = build(tmp_path, "b", workload, 7)
    assert a and a == b


def test_other_seed_other_bytes(tmp_path):
    a = build(tmp_path, "a", "steady_upsert", 7)
    b = build(tmp_path, "b", "steady_upsert", 8)
    assert a.keys() == b.keys()
    assert a != b


def test_steady_never_touches_reserved_keys(tmp_path):
    work = tmp_path / "w"
    work.mkdir()
    gen.build("steady_upsert", 3, 1, str(work))
    import oracle

    for name, _, op, img in oracle.read_events(str(work / "events.jsonl")):
        if name != "preload.json" and img["id"] <= W.STEADY_KEYS:
            assert img["id"] % W.STEADY_RESERVED_EVERY != 0
            assert img["score"] < W.RESERVED_SCORE_BASE


def test_backfill_files_meet_batch_floor_and_switch_schema(tmp_path):
    import base64
    import json

    work = tmp_path / "w"
    work.mkdir()
    plan = gen.build("backfill_avro", 3, 1, str(work))
    files = plan["files"]
    assert len(files) == W.backfill_files(1)
    ids = []
    for name in files:
        size, sids = 0, set()
        with open(work / "stage" / name) as f:
            for line in f:
                framed = base64.b64decode(json.loads(line)["value"])
                size += len(framed)
                sids.add(int.from_bytes(framed[1:5], "big"))
        assert size >= 0.8 * 1024 * 1024
        ids.append(sids)
    half = len(files) // 2
    assert all(s == {W.BACKFILL_SCHEMA_IDS[0]} for s in ids[:half])
    assert all(s == {W.BACKFILL_SCHEMA_IDS[1]} for s in ids[half:])
