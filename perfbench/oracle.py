"""Pure-Python last-write-wins replay of the generated events.

The pipeline keeps, per primary key, the event with the highest source
offset, and a winning delete removes the key. The replay applies the same
rule to the events in the order the files were released; an event whose
offset is lower than the key's current one loses, whenever it arrives.
"""

from __future__ import annotations

import json


def replay(events) -> dict:
    """``events``: iterable of ``(offset, op, image)`` with op in c/u/d and
    ``image`` the row (the before image for a delete). Returns
    ``{key: (offset, image)}`` for the keys alive at the end."""
    state: dict = {}
    for offset, op, image in events:
        key = image["id"]
        cur = state.get(key)
        if cur is None or offset > cur[0]:
            state[key] = (offset, op, image)
    return {k: (off, img) for k, (off, op, img) in state.items() if op != "d"}


def read_events(path: str, files: set[str] | None = None):
    """Yield ``(file, offset, op, image)`` from a generator ``events.jsonl``,
    keeping only ``files`` when given (the files actually released)."""
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if files is not None and rec["file"] not in files:
                continue
            for offset, op, image in rec["events"]:
                yield rec["file"], offset, op, image


def diff_keys(expected: dict, actual: dict) -> set:
    """Keys whose final row differs: missing, unexpected or unequal."""
    bad = set(expected) ^ set(actual)
    bad.update(k for k in expected.keys() & actual.keys() if expected[k] != actual[k])
    return bad
