"""Structured-Streaming CDC pipeline: the batcher+loader collapsed into one
streaming query (SURVEY.md §3.1-3.2).

Reference dataflow::

    batcher: Kafka → deserialize → transform → mask → S3 + load signal
    loader : signal → staging table → dedupe → merge → target

Spark-first shape: ``readStream`` → tombstone skip (S10) → envelope decode
(S3) → row-image extract + op classify (P1-P3) → mask (P5-P18) →
``foreachBatch``: latest-wins dedupe (M2) + merge into the versioned
parquet target (M3-M6), with the append fast-path and schema evolution.

The target is either a plain versioned table (every epoch rewrites it) or,
with ``catalog_buckets``, a catalog-bucketed one whose steady epochs commit
only the buckets the batch touches (``BucketedTargetTable``).

Delivery semantics (T4): the reference is at-least-once with an idempotent
loader; here checkpointing gives replayed epochs and the epoch guard makes
the merge idempotent — each version's metadata carries the last merged
epoch id, committed with the target version flip, and a replayed epoch at
or below it is skipped (streaming/epoch_guard.py).

Sources: any Spark streaming source DataFrame works (file source in tests —
Kafka connector jars are not bundled in this container; ``kafka_reader``
builds the reader when they are).
"""

from __future__ import annotations

import os
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.functions.masking import MaskConfig, apply_mask
from tipoca_stream_spark.operators.cdc import (
    COL_DEBEZIUM_OP,
    COL_KAFKA_OFFSET,
    OP_CREATE,
    OP_DELETE,
    OP_UPDATE,
    extract_row_image,
    skip_tombstones,
)
from tipoca_stream_spark.operators.merge import (
    batch_event_counts,
    cdc_merge,
    merge_with_offsets,
)
from tipoca_stream_spark.sources.debezium import decode_envelope
from tipoca_stream_spark.sources.target import (
    BucketedTargetTable,
    ConcurrentWriteError,
    ParquetTargetTable,
)
from tipoca_stream_spark.streaming import epoch_guard

# per-epoch counter records kept in ``CdcPipeline.metrics``: the newest
# ones only, so a long-running stream holds bounded driver memory
METRICS_KEPT = 1024


def kafka_available(spark: SparkSession) -> bool:
    """True when the Kafka connector jars are on the classpath."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:1"
        ).option("subscribe", "probe").load()
        return True
    except Exception as e:
        return "Failed to find data source" not in str(e)


def kafka_reader(spark: SparkSession, brokers: str, topic_pattern: str):
    """S1/S2: consumer-group source with regex topic discovery —
    ``subscribePattern`` natively covers the reference's 5s-600s topic
    refresh loop (manager.go:159-202)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribePattern", topic_pattern)
        .option("startingOffsets", "earliest")
        .option("failOnDataLoss", "false")
    )


@dataclass
class CdcPipelineConfig:
    table: str
    primary_keys: list[str]
    row_schema: T.StructType
    target_root: str
    checkpoint_dir: str
    mask_config: MaskConfig | None = None
    envelope_format: str = "json"
    framed: bool = False
    # wire-schema registry (S3): required when envelope_format='avro'
    schema_registry: object | None = None
    # logical table for mask-rule lookup when it differs from the target
    # name — a reload pipeline writes to `<table>_reload` but masks as the
    # logical table (the reference's reload sinkgroup consumes the same
    # topic with the new mask config)
    mask_table: str | None = None
    # True (default): target rows carry kafkaoffset and contested keys are
    # resolved by offset — correct under out-of-order / replayed epochs.
    # False: reference-parity blind merge + append fast-path, which trusts
    # source ordering the way the loader trusts Kafka (SURVEY.md §2.10 T2).
    store_offsets: bool = True
    # CATALOG-bucketed target (sources/target.BucketedTargetTable) on
    # pmod(hash(primary_keys), n): each merge becomes a BUCKET-DELTA commit
    # — only the buckets containing batch keys are read and rewritten;
    # untouched buckets hard-link from the previous version, so the
    # per-epoch merge is O(batch), not O(table). The bucket spec is
    # registered in the catalog, so downstream joins/aggregates on the PK
    # plan with zero Exchange on the target side (the DISTKEY co-location
    # the reference gets from Redshift). Schema-evolution epochs fall back
    # to a full rewrite (linked files cannot gain columns).
    catalog_buckets: int | None = None
    # SORTKEY analogue: maintain per-file min/max zone stats for these
    # columns on every target commit (fresh rows only for touched buckets
    # on delta commits — O(batch)); target.read_range then schedules only
    # overlapping files for range predicates (sources/target.py zone maps)
    zone_cols: list[str] | None = None
    # compact the target every N committed epochs (None = never): streaming
    # merges write one file set per epoch; long-lived targets need the
    # small-file rewrite or scan cost drifts upward
    compact_every: int | None = None


class CdcPipeline:
    """One table's CDC stream → masked, merged target (the reference's
    batcher+loader pair for one topic)."""

    def __init__(self, spark: SparkSession, config: CdcPipelineConfig):
        self.spark = spark
        self.config = config
        if config.catalog_buckets:
            self.target: ParquetTargetTable = BucketedTargetTable(
                spark,
                config.target_root,
                config.table,
                buckets=config.catalog_buckets,
                keys=config.primary_keys,
                zone_cols=config.zone_cols,
            )
        else:
            self.target = ParquetTargetTable(
                spark, config.target_root, config.table, zone_cols=config.zone_cols
            )
        # A1/A2 counters per epoch, newest METRICS_KEPT only
        self.metrics: deque[dict] = deque(maxlen=METRICS_KEPT)
        os.makedirs(config.checkpoint_dir, exist_ok=True)

    def transform(self, raw: DataFrame) -> DataFrame:
        """The batcher stage as pure column transforms (works identically on
        batch and streaming DataFrames)."""
        cfg = self.config
        events = skip_tombstones(raw)
        decoded = decode_envelope(
            events,
            cfg.row_schema,
            fmt=cfg.envelope_format,
            framed=cfg.framed,
            registry=cfg.schema_registry,
        )
        rows = extract_row_image(decoded)
        if cfg.mask_config is not None:
            rows = apply_mask(
                rows,
                cfg.mask_config,
                cfg.mask_table or cfg.table,
                schema_columns=[f.name.lower() for f in cfg.row_schema.fields],
                passthrough=[COL_KAFKA_OFFSET, COL_DEBEZIUM_OP],
            )
        return rows

    def _counts_and_buckets(
        self, batch_df: DataFrame
    ) -> tuple[dict[str, int], list[int] | None]:
        """A1 counters + the batch's delta-bucket id set in ONE aggregate
        job (round 14) — previously two driver round trips per micro-batch
        (``batch_event_counts`` then a ``distinct().collect()`` of bucket
        ids). Same values: the counters mirror ``batch_event_counts``
        exactly and the bucket set is the same pmod-hash distinct."""
        bucketed = isinstance(self.target, BucketedTargetTable)
        aggs = [
            F.count(F.when(F.col(COL_DEBEZIUM_OP) == OP_CREATE, 1)).alias("create"),
            F.count(F.when(F.col(COL_DEBEZIUM_OP) == OP_UPDATE, 1)).alias("update"),
            F.count(F.when(F.col(COL_DEBEZIUM_OP) == OP_DELETE, 1)).alias("delete"),
        ]
        if bucketed:
            aggs.append(F.sort_array(F.collect_set(self.target.bucket_of())).alias("_buckets"))
        row = batch_df.agg(*aggs).collect()[0]
        counts = {"create": row["create"], "update": row["update"], "delete": row["delete"]}
        buckets = [int(b) for b in row["_buckets"]] if bucketed else None
        return counts, buckets

    def merge_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: M1-M6 + schema evolution + epoch guard.

        The epoch mark is committed ATOMICALLY with the merge result — it
        lives in the target version's _meta.json, written before the
        _CURRENT pointer flip (sources/target.py). A crash anywhere leaves
        pointer+mark consistent: before the flip, the old version still
        carries the old mark and the replayed epoch re-merges from the old
        version (a fresh version write, not a double-append); after the
        flip, the epoch is recorded and the replay is skipped."""
        if epoch_guard.committed(self.target, epoch_id):
            return  # replayed epoch — merge already committed (T4)
        # multi-writer guard: remember the version this merge derives from;
        # the commit is a CAS against it. If another pipeline (a second
        # supervisor mis-pointed at the same target — the reference's O2
        # scenario run wrong) commits in between, this epoch fails with
        # ConcurrentWriteError instead of silently dropping that commit,
        # and checkpoint replay re-merges from the winner's version (T4).
        # Every read below is pinned to this version, so a commit landing
        # mid-merge cannot mix two versions into the merge input.
        base_version = self.target.current_version()
        # one materialization serves the counters AND the merge — without it
        # the batch source is scanned once for counts and again for the merge
        batch_df = batch_df.persist()
        # unpersist must target THIS frame: schema-evolution epochs rebind
        # batch_df to a derived plan, whose unpersist would be a no-op
        persisted_batch = batch_df
        # round 14: ONE driver round trip per micro-batch — the A1 counters
        # and the delta-bucket id set come from the same aggregate job (the
        # bucket ids were previously a second collect over the persisted
        # batch; at steady state that was one of ~4 jobs per trigger)
        counts, batch_buckets = self._counts_and_buckets(batch_df)
        self.metrics.append({"epoch": epoch_id, **counts})
        if sum(counts.values()) == 0:
            # nothing to merge — no version write, so nothing to record: a
            # replay of an empty epoch re-counts zero and returns here again
            batch_df.unpersist()
            return

        # target schema = batch columns minus helpers (+ kafkaoffset when
        # offset-aware merging is on)
        target_cols = [c for c in batch_df.columns if c not in (COL_KAFKA_OFFSET, COL_DEBEZIUM_OP)]
        if self.config.store_offsets:
            target_cols.append(COL_KAFKA_OFFSET)

        delta_buckets: list[int] | None = None
        if base_version is not None:
            current = self.target.read(base_version)
            if batch_buckets is not None and set(target_cols) <= set(current.columns):
                # bucket-delta path: read ONLY the bucket files the batch
                # keys live in (same hash as the bucket spec); rows outside
                # them cannot change
                delta_buckets = batch_buckets
                current = self.target.read_buckets(delta_buckets, version=base_version)
            # D5 schema evolution: new columns appear as nulls on old rows
            for c in [c for c in target_cols if c not in current.columns]:
                current = current.withColumn(c, F.lit(None).cast(batch_df.schema[c].dataType))
            for c in [c for c in current.columns if c not in target_cols]:
                batch_df = batch_df.withColumn(c, F.lit(None).cast(current.schema[c].dataType))
        else:
            current = self.spark.createDataFrame(
                [], T.StructType([batch_df.schema[c] for c in target_cols])
            )

        persisted: list[DataFrame] = []
        try:
            self._merge_and_commit(
                batch_df, epoch_id, current, counts, persisted, base_version, delta_buckets
            )
        finally:
            # don't leak cache across micro-batches — including when the
            # commit fails (ConcurrentWriteError) and the epoch will replay
            for df in persisted + [persisted_batch]:
                df.unpersist()

    def _merge_and_commit(
        self, batch_df, epoch_id, current, counts, persisted, base_version, delta_buckets
    ) -> None:
        if self.config.store_offsets:
            merged = merge_with_offsets(
                current, batch_df, self.config.primary_keys, persist_registry=persisted
            )
        else:
            merged = cdc_merge(
                current, batch_df, self.config.primary_keys, counts, persist_registry=persisted
            )
        meta = epoch_guard.mark(epoch_id)
        if delta_buckets is not None:
            self.target.write_bucket_delta(
                merged, delta_buckets, metadata=meta, expected_base=base_version
            )
        else:
            # plain target, or the bucketed bootstrap / schema-evolution
            # epoch: full rewrite
            self.target.write(merged, metadata=meta, expected_base=base_version)
        if self.config.compact_every and (epoch_id + 1) % self.config.compact_every == 0:
            try:
                self.target.compact()
            except ConcurrentWriteError:
                # the merge above committed fine; losing the COMPACTION
                # race to a concurrent writer is not an epoch failure —
                # maintenance just runs again at a later trigger
                pass

    def start(self, raw_stream: DataFrame, trigger_available_now: bool = True):
        """Wire transform + foreachBatch and start the query.

        The transform runs INSIDE foreachBatch, on each micro-batch as a
        batch frame — not on the streaming frame. Semantically identical
        (checkpoint offsets track the raw source either way), but it lets
        the decode's driver-side registry prepass (a distinct-wire-id
        collect resolving unknown schema ids over HTTP) run per
        micro-batch: a streaming frame cannot be collected, so hanging
        the transform off the stream would silently forfeit the registry
        fallback that the reference's serializer provides on every batch
        (serializer.go:54-61)."""
        def process(bdf: DataFrame, eid: int) -> None:
            # replay guard BEFORE the transform: a replayed epoch must not
            # pay the decode's registry prepass (distinct scan + possible
            # HTTP) just to be skipped inside merge_batch
            if epoch_guard.committed(self.target, eid):
                return
            self.merge_batch(self.transform(bdf), eid)

        writer = (
            raw_stream.writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(self.config.checkpoint_dir, "spark"))
            .foreachBatch(process)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_batch(self, raw: DataFrame, epoch_id: int = 0) -> None:
        """Batch-mode execution of the same pipeline (mask-reload backfills
        use this — O2's reload sink group)."""
        self.merge_batch(self.transform(raw), epoch_id)
