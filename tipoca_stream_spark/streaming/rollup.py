"""Continuous rollup: an incrementally-maintained windowed aggregate
(materialized "hypertable" rollup) over an event stream.

The reference materializes raw CDC rows; an analytics consumer almost
always wants the time-bucketed aggregate too. Spark's built-in windowed
streaming aggregation emits rows when the watermark closes a window —
late-beyond-watermark data is DROPPED. This operator takes the other
trade: every micro-batch is reduced to per-(bucket, key) partials and
MERGED into a versioned target, so arbitrarily late events update their
bucket instead of disappearing, and the maintained table always equals
the one-shot batch aggregate over all events seen so far (exactly — the
merge is associative because counts are longs and sums ride
DECIMAL(18,6)).

Scale shape (the reason this beats "recompute the aggregate"):
- batch partials are map-side-combined down to |buckets×keys| rows;
- the touched-bucket set (a few minutes of buckets per batch) broadcasts,
  so the target splits into untouched/overlap by broadcast anti/semi
  join — the target table itself is NEVER shuffled;
- only overlap rows (same tiny cardinality) re-aggregate with the
  partials;
- with ``partition_by_day=True`` the target is hive-partitioned on
  bucket date, so at 100 TB the untouched branch prunes to file listing
  and the rewrite touches only the partitions a batch lands in.

Exactly-once: the last merged epoch id commits atomically with the data
version (ParquetTargetTable.write metadata — the CDC pipeline's T4 guard,
streaming/epoch_guard.py), so a replayed micro-batch is a no-op.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tipoca_stream_spark.sources.target import ParquetTargetTable
from tipoca_stream_spark.streaming import epoch_guard


class ContinuousRollup:
    def __init__(
        self,
        spark: SparkSession,
        target: ParquetTargetTable,
        window_duration: str = "1 minute",
        keys: Sequence[str] = ("event_type",),
        ts_col: str = "ts",
        value_col: str = "value",
        partition_by_day: bool = False,
    ):
        self.spark = spark
        self.target = target
        self.window_duration = window_duration
        self.keys = list(keys)
        self.ts_col = ts_col
        self.value_col = value_col
        self.partition_by_day = partition_by_day

    # ---- aggregation --------------------------------------------------

    def partials(self, df: DataFrame) -> DataFrame:
        """Reduce raw events to per-(bucket, key) partial aggregates.
        Exact-typed so partial merge is associative: n long, sum decimal."""
        bucket = F.window(F.col(self.ts_col), self.window_duration).start.alias(
            "bucket_start"
        )
        return df.groupBy(bucket, *self.keys).agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.value_col).cast("decimal(18,6)")).alias("sum_v"),
        )

    # ---- merge --------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: partials → bucket-pruned merge → atomic
        version flip carrying the epoch guard."""
        if epoch_guard.committed(self.target, epoch_id):
            return  # replayed epoch: already committed with a prior version
        # CAS base: the version this merge derives from — a concurrent
        # writer's commit fails this epoch for checkpoint replay instead
        # of being silently overwritten (same guard as CdcPipeline)
        base = self.target.current_version()
        meta = epoch_guard.mark(epoch_id)
        p = self.partials(batch_df)
        if not self.target.exists():
            out = p
            if self.partition_by_day:
                out = out.withColumn("bucket_date", F.to_date("bucket_start"))
                self.target.write(out, partition_by=["bucket_date"], metadata=meta, expected_base=base)
            else:
                self.target.write(out, metadata=meta, expected_base=base)
            return
        if self.partition_by_day:
            # partition-delta commit: READ only the touched dates (partition
            # pruning) and WRITE only them (hard-linked carry-over for the
            # rest) — both sides of the merge are O(batch), not O(table)
            dates = [r["d"] for r in p.select(F.to_date("bucket_start").alias("d")).distinct().collect()]
            overlap = (
                self.target.read()
                .filter(F.col("bucket_date").isin(dates))
                .drop("bucket_date")
            )
            merged = (
                overlap.unionByName(p)
                .groupBy("bucket_start", *self.keys)
                .agg(F.sum("n").alias("n"), F.sum("sum_v").cast("decimal(18,6)").alias("sum_v"))
                .withColumn("bucket_date", F.to_date("bucket_start"))
            )
            self.target.write_partition_delta(
                merged, "bucket_date", dates, metadata=meta, expected_base=base
            )
            return
        tgt = self.target.read()
        touched = p.select("bucket_start").distinct()
        untouched = tgt.join(F.broadcast(touched), "bucket_start", "left_anti")
        overlap = tgt.join(F.broadcast(touched), "bucket_start", "left_semi")
        merged = (
            overlap.unionByName(p)
            .groupBy("bucket_start", *self.keys)
            .agg(F.sum("n").alias("n"), F.sum("sum_v").cast("decimal(18,6)").alias("sum_v"))
        )
        self.target.write(untouched.unionByName(merged), metadata=meta, expected_base=base)

    def run_batch(self, df: DataFrame, epoch_id: int = 0) -> None:
        """Drive one micro-batch outside a streaming query (tests, backfill)."""
        self.merge_batch(df, epoch_id)

    # ---- streaming ----------------------------------------------------

    def start(self, stream_df: DataFrame, checkpoint: str, trigger_available_now: bool = True):
        """Attach to a streaming DataFrame. No watermark on purpose: the
        merge handles unbounded lateness (that is the operator's contract);
        Spark only tracks source offsets in the checkpoint while the epoch
        guard makes redelivery idempotent."""
        writer = stream_df.writeStream.foreachBatch(self.merge_batch).option(
            "checkpointLocation", checkpoint
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ---- reads --------------------------------------------------------

    def read(self) -> DataFrame:
        df = self.target.read()
        return df.drop("bucket_date") if self.partition_by_day else df
