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

The target is a ``BucketedTargetTable`` whose bucket keys are a subset of
the group key (``bucket_start`` and ``keys``), so a group's stored row and
its batch partial always hash to the same target bucket. Scale shape (the
reason this beats "recompute the aggregate"):
- batch partials are map-side-combined down to |windows×keys| rows;
- the first batch bootstraps the target with one full ``write``;
- every later batch reads only the target buckets its partials touch
  (``read_buckets`` at the CAS base version), re-aggregates them with the
  partials, and commits them with ``write_bucket_delta``: untouched
  buckets carry over as hard links, so both the read and the write are
  O(batch), not O(table).

Exactly-once: the last merged epoch id commits atomically with the data
version (target commit metadata — the CDC pipeline's T4 guard,
streaming/epoch_guard.py), so a replayed micro-batch is a no-op.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tipoca_stream_spark.sources.target import BucketedTargetTable
from tipoca_stream_spark.streaming import epoch_guard


class ContinuousRollup:
    def __init__(
        self,
        spark: SparkSession,
        target: BucketedTargetTable,
        window_duration: str = "1 minute",
        keys: Sequence[str] = ("event_type",),
        ts_col: str = "ts",
        value_col: str = "value",
    ):
        group = {"bucket_start", *keys}
        if not set(target.keys) <= group:
            # the partials carry only the group columns, and a group's
            # stored row must hash to the bucket its partial hashes to
            raise ValueError(
                f"rollup target keys {target.keys} must be a subset of the "
                f"group key {sorted(group)}"
            )
        self.spark = spark
        self.target = target
        self.window_duration = window_duration
        self.keys = list(keys)
        self.ts_col = ts_col
        self.value_col = value_col

    # ---- aggregation --------------------------------------------------

    def partials(self, df: DataFrame) -> DataFrame:
        """Reduce raw events to per-(bucket, key) partial aggregates.
        Exact-typed so partial merge is associative: n long, sum_v
        decimal(18,6) — the stored type, so bootstrap and delta files of
        one version share one physical schema."""
        bucket = F.window(F.col(self.ts_col), self.window_duration).start.alias(
            "bucket_start"
        )
        return df.groupBy(bucket, *self.keys).agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.value_col).cast("decimal(18,6)")).cast("decimal(18,6)").alias("sum_v"),
        )

    # ---- merge --------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: partials → touched-bucket merge → atomic
        version flip carrying the epoch guard."""
        if epoch_guard.committed(self.target, epoch_id):
            return  # replayed epoch: already committed with a prior version
        # CAS base: the version this merge derives from — a concurrent
        # writer's commit fails this epoch for checkpoint replay instead
        # of being silently overwritten (same guard as CdcPipeline)
        base = self.target.current_version()
        meta = epoch_guard.mark(epoch_id)
        p = self.partials(batch_df)
        if base is None:
            self.target.write(p, metadata=meta, expected_base=base)
            return
        touched = [
            r["b"] for r in p.select(self.target.bucket_of().alias("b")).distinct().collect()
        ]
        if not touched:
            return  # empty batch: nothing to commit (see epoch_guard)
        merged = (
            self.target.read_buckets(touched, version=base)
            .unionByName(p)
            .groupBy("bucket_start", *self.keys)
            .agg(F.sum("n").alias("n"), F.sum("sum_v").cast("decimal(18,6)").alias("sum_v"))
        )
        self.target.write_bucket_delta(merged, touched, metadata=meta, expected_base=base)

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
        return self.target.read()
