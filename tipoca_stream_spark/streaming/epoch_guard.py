"""The exactly-once epoch guard of the streaming sinks (T4): CdcPipeline,
ContinuousRollup and MaterializedJoin.

A sink commits ``{"last_epoch": N}`` in the ``_meta.json`` of the target
version that merged epoch N, so the mark flips with the data under one
pointer CAS (sources/target.py). An epoch is already merged when its id is
at or below the mark. That is the Structured Streaming argument (SIGMOD
2018): micro-batch ids are monotone per checkpoint and a restart
replays only the last uncommitted batch, so a high-water mark skips exactly
the replays a set of every merged id would — at a constant size instead of
one id per trigger forever.

Epochs that commit nothing (an empty micro-batch) leave the mark where it
is; their replay is re-counted and committed as nothing again.
"""

from __future__ import annotations

KEY = "last_epoch"


def last_epoch(table) -> int | None:
    """The mark of the table's current version (None before any commit)."""
    return table.read_metadata().get(KEY)


def committed(table, epoch_id: int) -> bool:
    """True when ``epoch_id`` is already merged into the current version."""
    last = last_epoch(table)
    return last is not None and epoch_id <= last


def mark(epoch_id: int) -> dict:
    """Commit metadata that records ``epoch_id`` as merged."""
    return {KEY: int(epoch_id)}
