"""Seeded input generator, run as its own process (pure Python, no Spark).

    python3 perfbench/gen.py --workload steady_upsert --seed 7 --seconds 15 --work DIR

It builds every input file before the clock starts, writes ``DIR/ready``,
then waits for ``DIR/go``. After that it only moves prepared files into the
source directory at their due times and logs when each move happened:

- ``steady_upsert``: one Debezium-JSON file per tick on a fixed schedule
  that never slows when the system slows. Ticks run as warm-up until
  ``DIR/measure`` appears; the measured window is the ticks after it.
- ``backfill_avro``: the whole Confluent-framed Avro backlog, all due at
  the go time.

Outputs under DIR: ``src/`` (the stream source), ``stage/`` (prepared,
unreleased files), ``events.jsonl`` (every event with its file, for the
replay oracle), ``schemas.json`` (Avro writer schemas by wire id) and, at
the end, ``releases.json``. The process is single-threaded.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402

GO_TIMEOUT_S = 600.0


def _dump(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def _write_atomic(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _json_line(offset: int, op: str, before, after) -> str:
    value = _dump({"before": before, "after": after, "op": op, "ts_ms": offset})
    return _dump({"topic": W.TOPIC, "partition": 0, "offset": offset, "value": value})


def build_steady(seed: int, seconds: int, work: str) -> dict:
    rng = random.Random(f"steady_upsert/{seed}")
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    current: dict[int, dict] = {}
    files = []
    with open(os.path.join(work, "events.jsonl"), "w") as ev:
        preload = []
        with open(os.path.join(src, "preload.json"), "w") as f:
            for key in range(1, W.STEADY_KEYS + 1):
                row = W.steady_preload_row(rng, key)
                current[key] = row
                f.write(_json_line(key - 1, "c", None, row) + "\n")
                preload.append([key - 1, "c", row])
        ev.write(_dump({"file": "preload.json", "events": preload}) + "\n")

        touched = [k for k in range(1, W.STEADY_KEYS + 1) if k % W.STEADY_RESERVED_EVERY]
        rng.shuffle(touched)  # Zipf rank -> key
        zipf = W.Zipf(len(touched), W.STEADY_ZIPF_S, rng)
        p_update, p_delete, _ = W.OP_MIX
        deleted: set[int] = set()
        fresh = W.STEADY_KEYS
        offset = W.STEADY_KEYS
        n_ticks, _ = W.steady_ticks(seconds)
        per_tick = int(W.STEADY_RATE * W.STEADY_TICK_S)
        for t in range(n_ticks):
            name = f"tick-{t:05d}.json"
            events = []
            with open(os.path.join(stage, name), "w") as f:
                for _ in range(per_tick):
                    u = rng.random()
                    if u >= p_update + p_delete:
                        fresh += 1
                        key, op, before = fresh, "c", None
                    else:
                        key = touched[zipf.draw()]
                        if key in deleted:
                            op, before = "c", None  # delete-then-recreate
                        elif u < p_update:
                            op, before = "u", current[key]
                        else:
                            op, before = "d", current[key]
                    if op == "d":
                        after = None
                        deleted.add(key)
                        del current[key]
                        image = before
                    else:
                        after = W.steady_row(rng, key)
                        deleted.discard(key)
                        current[key] = after
                        image = after
                    f.write(_json_line(offset, op, before, after) + "\n")
                    events.append([offset, op, image])
                    offset += 1
            ev.write(_dump({"file": name, "events": events}) + "\n")
            files.append(name)
    return {"files": files}


def _backfill_backlog(rng: random.Random, n_files: int, aw, schemas, out_dir, ev):
    """Write ``n_files`` framed-Avro files of >= BACKFILL_FILE_BYTES each into
    ``out_dir``; the second half uses the writer schema with the added
    column. Returns the file names."""
    sid1, sid2 = W.BACKFILL_SCHEMA_IDS
    parsed = {sid: aw.parse_schema(schemas[sid]) for sid in (sid1, sid2)}
    current: dict[int, dict] = {}
    created: list[int] = []
    deleted: set[int] = set()
    next_key = 0
    offset = 0
    p_update, p_delete, _ = W.OP_MIX
    names = []
    for i in range(n_files):
        v2 = i >= n_files // 2
        sid = sid2 if v2 else sid1
        name = f"backlog-{i:04d}.json"
        size = 0
        events = []
        with open(os.path.join(out_dir, name), "w") as f:
            while size < W.BACKFILL_FILE_BYTES:
                if not created or rng.random() < W.BACKFILL_KEYS_SHARE:
                    next_key += 1
                    key, op, before = next_key, "c", None
                    created.append(key)
                else:
                    key = created[int(len(created) * rng.random() ** 2)]
                    u = rng.random()
                    if key in deleted:
                        op, before = "c", None
                    elif u < p_update / (p_update + p_delete):
                        op, before = "u", current[key]
                    else:
                        op, before = "d", current[key]
                if op == "d":
                    after = None
                    deleted.add(key)
                    del current[key]
                    image = before
                else:
                    after = W.backfill_row(rng, key, with_segment=v2)
                    deleted.discard(key)
                    current[key] = after
                    image = after
                framed = aw.frame(
                    sid,
                    aw.encode(parsed[sid], {"before": before, "after": after, "op": op, "ts_ms": offset}),
                )
                size += len(framed)
                line = {
                    "offset": offset,
                    "partition": 0,
                    "topic": W.TOPIC,
                    "value": base64.b64encode(framed).decode("ascii"),
                }
                f.write(_dump(line) + "\n")
                events.append([offset, op, image])
                offset += 1
        if ev is not None:
            ev.write(_dump({"file": name, "events": events}) + "\n")
        names.append(name)
    return names


def build_backfill(seed: int, seconds: int, work: str) -> dict:
    aw = W.load_avro_wire()
    sid1, sid2 = W.BACKFILL_SCHEMA_IDS
    schemas = {
        sid1: W.avro_envelope_schema(W.BACKFILL_V1_FIELDS),
        sid2: W.avro_envelope_schema(W.BACKFILL_V2_FIELDS),
    }
    _write_atomic(os.path.join(work, "schemas.json"), _dump({str(k): v for k, v in schemas.items()}))
    warm, src, stage = (os.path.join(work, d) for d in ("src_warm", "src", "stage"))
    for d in (warm, src, stage):
        os.makedirs(d)
    rng_warm = random.Random(f"backfill_avro/warm/{seed}")
    _backfill_backlog(rng_warm, W.BACKFILL_WARMUP_FILES, aw, schemas, warm, None)
    rng = random.Random(f"backfill_avro/{seed}")
    with open(os.path.join(work, "events.jsonl"), "w") as ev:
        files = _backfill_backlog(rng, W.backfill_files(seconds), aw, schemas, stage, ev)
    return {"files": files}


def build(workload: str, seed: int, seconds: int, work: str) -> dict:
    if workload == "steady_upsert":
        return build_steady(seed, seconds, work)
    if workload == "backfill_avro":
        return build_backfill(seed, seconds, work)
    raise ValueError(f"unknown workload {workload!r}")


def _wait_for(path: str, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.002)
    return True


def release(workload: str, seconds: int, work: str, files: list[str]) -> dict:
    """Move prepared files into ``src/`` at their due times; returns the log.
    Times are ``time.monotonic()`` values, comparable across processes on
    one host."""
    stage, src = os.path.join(work, "stage"), os.path.join(work, "src")
    measure_flag = os.path.join(work, "measure")
    t0 = time.monotonic()
    log = []
    measure_from = None
    if workload == "backfill_avro":
        for name in files:
            os.rename(os.path.join(stage, name), os.path.join(src, name))
            log.append([name, t0, time.monotonic()])
        return {"releases": log, "measure_from": 0}
    _, measured = W.steady_ticks(seconds)
    end = len(files)
    for i, name in enumerate(files):
        due = t0 + i * W.STEADY_TICK_S
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        log.append([name, due, time.monotonic()])
        if measure_from is None and os.path.exists(measure_flag):
            measure_from = i + 1
            end = min(len(files), measure_from + measured)
        if i + 1 >= end:
            break
    return {"releases": log, "measure_from": measure_from}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    plan = build(args.workload, args.seed, args.seconds, args.work)
    _write_atomic(os.path.join(args.work, "ready"), "1")
    if not _wait_for(os.path.join(args.work, "go"), GO_TIMEOUT_S):
        return 3
    out = release(args.workload, args.seconds, args.work, plan["files"])
    _write_atomic(os.path.join(args.work, "releases.json"), _dump(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
