"""Incrementally-maintained join view over two CDC-merged tables.

The reference materializes each source table into Redshift and leaves
joins to the warehouse query layer. With the engine owning storage, the
natural next step is maintaining the JOIN itself as data arrives —
classic incremental view maintenance, specialized to the CDC shape:

    J = A ⋈ B on A.join_key = B.join_key

After the per-table merges land a micro-batch, only join keys touched by
either delta can change in J. So the refresh is:

    touched  = keys(ΔA) ∪ keys(ΔB)              -- delta-sized, broadcast
    J'       = J ▷ touched                       -- broadcast ANTI: keep untouched
               ∪ (A' ⋉ touched) ⋈ (B' ⋉ touched) -- recompute only touched keys

The view table is never shuffled (anti/semi joins are broadcast against
the tiny touched-key set); the recompute joins two delta-pruned slices.
The COMPUTE is O(batch) in both modes; the WRITE is O(batch) only with
``n_buckets`` set — the view is then hive-partitioned on
pmod(hash(key), n) and each refresh is a partition-delta commit
(``ParquetTargetTable.write_partition_delta``): touched buckets rebuild,
untouched buckets carry over as hard links. At 100 TB with a 1 GiB
batch that's a handful of bucket rewrites versus a full-table rewrite
per batch.

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

from tipoca_stream_spark.sources.target import ParquetTargetTable
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
        view: ParquetTargetTable,
        left: ParquetTargetTable,
        right: ParquetTargetTable,
        join_key: str,
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self.view = view
        self.left = left
        self.right = right
        self.join_key = join_key
        # with n_buckets set, the view is hive-partitioned on
        # pmod(hash(join_key), n) and refresh commits are partition deltas:
        # untouched buckets carry over as hard links, so the WRITE (not
        # just the compute) is O(touched buckets) per batch
        self.n_buckets = n_buckets

    def _bucket(self, col: str):
        return F.pmod(F.hash(F.col(col)), F.lit(self.n_buckets))

    def full_join(self) -> DataFrame:
        """The from-scratch join — used for bootstrap and as the test
        oracle."""
        return self.left.read().join(self.right.read(), self.join_key)

    def read(self) -> DataFrame:
        df = self.view.read()
        return df.drop("_bucket") if self.n_buckets else df

    def refresh(self, delta_keys: DataFrame, epoch_id: int = 0) -> None:
        """Incremental maintenance: ``delta_keys`` is a 1-column DataFrame
        of join-key values touched by this batch on either side."""
        if epoch_guard.committed(self.view, epoch_id):
            return
        meta = epoch_guard.mark(epoch_id)
        touched = delta_keys.select(
            F.col(delta_keys.columns[0]).alias(self.join_key)
        ).distinct()
        base = self.view.current_version()  # CAS base (see rollup.merge_batch)
        if not self.view.exists():
            out = self.full_join()
            if self.n_buckets:
                out = out.withColumn("_bucket", self._bucket(self.join_key))
                self.view.write(out, partition_by=["_bucket"], metadata=meta, expected_base=base)
            else:
                self.view.write(out, metadata=meta, expected_base=base)
            return
        if self.n_buckets:
            # rebuild only the touched hash buckets from the base tables
            # (each side filtered by the same bucket expression — a scan
            # predicate, no join); everything else hard-links over
            buckets = [
                r["b"] for r in touched.select(self._bucket(self.join_key).alias("b")).distinct().collect()
            ]
            lf = self.left.read().filter(self._bucket(self.join_key).isin(buckets))
            rf = self.right.read().filter(self._bucket(self.join_key).isin(buckets))
            rebuilt = lf.join(rf, self.join_key).withColumn("_bucket", self._bucket(self.join_key))
            self.view.write_partition_delta(
                rebuilt, "_bucket", buckets, metadata=meta, expected_base=base
            )
            return
        recomputed = (
            self.left.read()
            .join(F.broadcast(touched), self.join_key, "left_semi")
            .join(
                self.right.read().join(F.broadcast(touched), self.join_key, "left_semi"),
                self.join_key,
            )
        )
        untouched = self.view.read().join(F.broadcast(touched), self.join_key, "left_anti")
        self.view.write(untouched.unionByName(recomputed), metadata=meta, expected_base=base)
