"""Shared lineage-truncation storage level.

Every iterative operator here pins intermediates with ``localCheckpoint``
(lineage truncation — components.py explains why). PySpark's DEFAULT
checkpoint storage is MEMORY_AND_DISK_DESER: deserialized on-heap rows,
the most heap-hungry representation Spark has. That default is what the
round-9 sf4 curvature probe hit: the triangle plan's pinned oriented
edge table plus a second rep's copy exhausted a 16 GiB single-JVM heap
(GCLocker allocation stalls → OOM) even though each individual run fits.

``SPILL_LEVEL`` = MEMORY_AND_DISK (SERIALIZED on the JVM side): compact
byte blocks that evict to disk under pressure instead of holding
deserialized row objects on-heap. The deserialization cost on re-read is
paid only by the (few, bounded) branches that re-scan a pin; in exchange
a pinned working set larger than executor memory degrades to disk reads
instead of killing the executor — the behavior you want at 100 TB, where
"the edge table got bigger than the cluster's cache" must mean slower,
never dead. Answers are unaffected (serialization is exact).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# JVM-side serialized, memory-then-disk. (In PySpark's StorageLevel
# constants, MEMORY_AND_DISK is the serialized variant;
# MEMORY_AND_DISK_DESER — the localCheckpoint default — is not.)
SPILL_LEVEL = StorageLevel.MEMORY_AND_DISK

# pin_partitioned flips a session-global conf around the pin build; the
# flip + restore must not interleave with another thread's pin build (two
# interleaved calls could read "false" as prev and leave AQE off for the
# session) or with concurrent query planning in general. The lock
# serializes pin builds; callers that plan queries from other threads
# during a pin build still plan those AQE-off — keep pin builds out of
# multi-threaded planning sections (round-15 hardening of the round-14
# caveat; VERDICT r14 "what's wrong" #2).
_PIN_LOCK = threading.Lock()

# Sizing heuristic for ``rows_hint``: target ~64 MB of serialized rows
# per pinned partition (guide §2.2 "fewer, larger partitions"), assuming
# ~32 B/row serialized for the narrow long-keyed tables the graph
# operators pin. 2M rows/partition keeps a tiny fixpoint edge set in ONE
# partition (the round-14 components bisect showed the static 32-way pin
# actively hurts small pins) while a 10^10-edge table still splits wide.
_PIN_ROWS_PER_PARTITION = 2_000_000


@contextmanager
def aqe_disabled(spark):
    """Scope ``spark.sql.adaptive.enabled=false`` to a block, serialized
    by the same lock as pin builds (two interleaved flips could read
    "false" as prev and leave AQE off for the session).

    Three callers, each with a measured win (OPTIMIZATION_r14/r15.md):
    pin builds (an AdaptiveSparkPlanExec reports Unknown partitioning, so
    an AQE-on checkpoint loses the hashpartitioning it exists to
    advertise); the bucket-delta ``saveAsTable`` of a steady-state commit
    (a micro-batch merge is a handful of tasks over batch-sized inputs;
    AQE's per-stage materialization turns it into 4-6 sequential jobs of
    pure driver round-trip latency, ~0.4-0.5 s per trigger at bench
    scale, with nothing for AQE to adapt — the only post-shuffle stage is
    a user-pinned repartition AQE may not coalesce anyway); and the Bloom
    and text sidecars of delta and append commits, which are batch-sized
    for the same reason (2.0 → 1.5 s per indexed delta commit). Plans
    built and EXECUTED inside the block run entirely AQE-off;
    partitioning/stage structure never changes results."""
    with _PIN_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)


def pin_partitions_for(
    rows: int, session_partitions: int, rows_per_partition: int | None = None
) -> int:
    """Partition count for a pin over ``rows`` rows: ~64 MB chunks,
    capped at the session's shuffle parallelism (the cluster-scale knob),
    floored at 1.

    ``rows`` must be the cardinality the pin's CONSUMERS process per
    partition, not necessarily the pinned row count — a join that
    pipelines C(n, 2) generated rows per partition must be sized by that
    amplified cardinality (the first r15 triangles ABBA measured 1.8-2.1x
    worse when the 41M-wedge join was sized by its 1.5M pinned edges and
    collapsed to one task). ``rows_per_partition`` overrides the default
    target for narrow or compute-amplified rows."""
    per = rows_per_partition or _PIN_ROWS_PER_PARTITION
    by_size = -(-max(rows, 1) // per)  # ceil
    return max(1, min(by_size, max(session_partitions, 1)))


def pin_partitioned(
    df: DataFrame, *keys: str, num_partitions: int | None = None
) -> DataFrame:
    """Repartition on ``keys`` and localCheckpoint so the pinned table
    ADVERTISES hashpartitioning(keys) to every later plan that scans it.

    ``Dataset.checkpoint`` copies ``physicalPlan.outputPartitioning`` into
    the LogicalRDD it returns — but under AQE the physical plan is an
    ``AdaptiveSparkPlanExec``, which reports Unknown partitioning, so a
    plain ``repartition(k).localCheckpoint()`` yields a pin that every
    downstream join re-shuffles (measured: the per-round edge exchange the
    iterative operators try to avoid came back). Building the pin with AQE
    briefly disabled makes the checkpoint capture the real
    hashpartitioning; the conf flip covers only the pin's own build job
    and is restored immediately (and serialized by a module lock — see
    ``_PIN_LOCK``).

    Partition count: ``num_partitions`` when given (callers size it from
    a measured row count via ``pin_partitions_for`` — the round-14
    components bisect showed a tiny pin inflated to the static session
    partition count costs that many tasks every round), else the
    session's ``spark.sql.shuffle.partitions`` — the deliberate scale
    knob (local: core count; cluster: sized to the cluster), not a local
    constant.

    Caveat, measured (OPTIMIZATION_r14.md): AQE-off planning extends to
    everything upstream of the pin in the same job (no runtime broadcast
    conversion / skew split / coalescing there). The graph operators that
    use this pin over the explode-shaped cooccurrence upstream measured
    FASTER (0.73-0.89x); operators with an AQE-sensitive upstream should
    materialize it first (plain checkpoint) and pin the checkpointed
    frame, as connected_components does.

    Partitioning metadata never changes results.
    """
    with aqe_disabled(df.sparkSession):
        cols = [str(k) for k in keys]
        rep = (
            df.repartition(num_partitions, *cols)
            if num_partitions is not None
            else df.repartition(*cols)
        )
        return rep.localCheckpoint(eager=True, storageLevel=SPILL_LEVEL)
