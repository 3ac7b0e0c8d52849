"""Incrementally-maintained join view over two CDC-merged tables.

The reference materializes each source table into Redshift and leaves
joins to the warehouse query layer. With the engine owning storage, the
natural next step is maintaining the JOIN itself as data arrives —
classic incremental view maintenance, specialized to the CDC shape:

    J = A ⋈ B on A.join_key = B.join_key

After the per-table merges land a micro-batch, only join keys touched by
either delta can change in J. The view is a ``BucketedTargetTable``
bucketed on the join key, so the refresh works on the view buckets those
keys hash to:

    touched  = bucket(keys(ΔA) ∪ keys(ΔB))        -- delta-sized
    J'       = J outside touched                   -- hard links, never read
               ∪ σ_touched(A') ⋈ σ_touched(B')     -- rebuild touched buckets

The first refresh bootstraps the view with one full ``write`` of the
join; every later one filters both base tables by the view's bucket
expression (a scan predicate, no join against the view) and commits the
rebuilt buckets with ``write_bucket_delta``. At 100 TB with a 1 GiB batch
that's a handful of bucket rewrites versus a full-table rewrite per
batch.

Exactly-once: the last refreshed epoch id commits atomically with the
view's version flip (CdcPipeline's T4 guard, streaming/epoch_guard.py), so
a replayed batch is a no-op.

Correctness contract (pinned by tests): after every batch,
``view.read() == A'.read() ⋈ B'.read()`` computed from scratch — for any
interleaving of creates/updates/deletes on either side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tipoca_stream_spark.sources.target import BucketedTargetTable, ParquetTargetTable
from tipoca_stream_spark.streaming import epoch_guard


class MaterializedJoin:
    """Maintains ``left ⋈ right`` (inner, equi) as a versioned table.

    ``left``/``right`` are the post-merge CDC targets (latest-wins rows);
    ``refresh(delta_keys, epoch_id)`` is called after each batch with the
    join-key values present in that batch's deltas (either side).
    """

    def __init__(
        self,
        spark: SparkSession,
        view: BucketedTargetTable,
        left: ParquetTargetTable,
        right: ParquetTargetTable,
        join_key: str,
    ):
        if view.keys != [join_key]:
            # the touched buckets are computed from join-key values alone
            raise ValueError(
                f"join view must be bucketed on [{join_key!r}], got {view.keys}"
            )
        self.spark = spark
        self.view = view
        self.left = left
        self.right = right
        self.join_key = join_key

    def full_join(self) -> DataFrame:
        """The from-scratch join — used for bootstrap and as the test
        oracle."""
        return self.left.read().join(self.right.read(), self.join_key)

    def read(self) -> DataFrame:
        return self.view.read()

    def refresh(self, delta_keys: DataFrame, epoch_id: int = 0) -> None:
        """Incremental maintenance: ``delta_keys`` is a 1-column DataFrame
        of join-key values touched by this batch on either side."""
        if epoch_guard.committed(self.view, epoch_id):
            return
        meta = epoch_guard.mark(epoch_id)
        base = self.view.current_version()  # CAS base (see rollup.merge_batch)
        if base is None:
            self.view.write(self.full_join(), metadata=meta, expected_base=base)
            return
        # hash() depends on the type (an int key and the same value as a
        # bigint hash differently), so the keys take the view's key type
        # before they are bucketed
        key_type = self.view.read(base).schema[self.join_key].dataType
        keys = delta_keys.select(F.col(delta_keys.columns[0]).cast(key_type).alias(self.join_key))
        touched = [
            r["b"] for r in keys.select(self.view.bucket_of().alias("b")).distinct().collect()
        ]
        if not touched:
            return  # no keys: nothing to commit (see epoch_guard)
        in_touched = self.view.bucket_of().isin(touched)
        rebuilt = self.left.read().filter(in_touched).join(
            self.right.read().filter(in_touched), self.join_key
        )
        self.view.write_bucket_delta(rebuilt, touched, metadata=meta, expected_base=base)
