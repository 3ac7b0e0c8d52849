"""Shared lineage-truncation storage level, and AQE-off work on a
cloned session.

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

Jobs that must run with AQE off (pin builds, the batch-sized writes of
a delta commit) run on a clone of the caller's session that differs in
that one conf (``aqe_off_clone`` + ``rebind``). The caller's session is
never touched, so no lock is needed and no other thread's query plans
differently meanwhile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# JVM-side serialized, memory-then-disk. (In PySpark's StorageLevel
# constants, MEMORY_AND_DISK is the serialized variant;
# MEMORY_AND_DISK_DESER — the localCheckpoint default — is not.)
SPILL_LEVEL = StorageLevel.MEMORY_AND_DISK

# Sizing heuristic for ``rows_hint``: target ~64 MB of serialized rows
# per pinned partition (guide §2.2 "fewer, larger partitions"), assuming
# ~32 B/row serialized for the narrow long-keyed tables the graph
# operators pin. 2M rows/partition keeps a tiny fixpoint edge set in ONE
# partition (the round-14 components bisect showed the static 32-way pin
# actively hurts small pins) while a 10^10-edge table still splits wide.
_PIN_ROWS_PER_PARTITION = 2_000_000


def aqe_off_clone(spark: SparkSession):
    """A JVM clone of ``spark``'s session with AQE off on the clone alone.
    ``cloneSession`` (not ``newSession``) keeps every runtime conf the
    caller set, its temporary views and functions; catalog, cache and
    SparkContext are shared. About 2 ms.

    Callers: pin builds (``pin_partitioned``), and the batch-sized data
    and sidecar writes of delta commits (``sources/target.py``), where
    AQE's per-stage jobs measured as pure driver latency with nothing to
    adapt (OPTIMIZATION_r14/r15.md). Plans never change results."""
    jclone = spark._jsparkSession.cloneSession()
    jclone.conf().set("spark.sql.adaptive.enabled", "false")
    return jclone


def rebind(df: DataFrame, jsession) -> DataFrame:
    """``df``'s logical plan re-analysed, planned and run on the JVM
    session ``jsession``; a cached parent still reads from the shared
    cache. The Python-side session stays ``df``'s: a Python wrapper of a
    clone would repoint ``RDD.toDF`` at it for the whole process."""
    session = df.sparkSession
    dataset = getattr(session._jvm, "org.apache.spark.sql.classic.Dataset")
    jds = dataset.ofRows(jsession, df._jdf.queryExecution().logical())
    return DataFrame(jds, session)


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
    iterative operators try to avoid came back). So the pin is built on an
    AQE-off clone of the caller's session (``aqe_off_clone``), where the
    checkpoint captures the real hashpartitioning, and the pin is then
    rebound to the caller's session: without that second rebind, every
    later query built on the pin would plan with AQE off too.

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
    caller = df.sparkSession._jsparkSession
    df = rebind(df, aqe_off_clone(df.sparkSession))
    cols = [str(k) for k in keys]
    rep = (
        df.repartition(num_partitions, *cols)
        if num_partitions is not None
        else df.repartition(*cols)
    )
    return rebind(rep.localCheckpoint(eager=True, storageLevel=SPILL_LEVEL), caller)
