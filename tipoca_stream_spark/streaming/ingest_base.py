"""Shared T4 wiring of the three streaming index-ingest pipelines
(round 13, VERDICT r12 next #4): fingerprint
(streaming/multimodal_ingest.py), MinHash
(streaming/corpus_dedup_ingest.py), and semantic
(streaming/semantic_ingest.py). Each is `readStream` →
per-micro-batch screen → dedup ingest into its maintained index, with
the CDC pipeline's effectively-exactly-once contract:

- the EPOCH GUARD rides the index's version-commit metadata — marking
  an epoch ingested is ATOMIC with the append's CAS version flip (the
  commit protocol of CdcPipeline's guard, streaming/epoch_guard.py): a
  crash leaves either "epoch fully in the index and marked" or "index
  untouched and unmarked", never half. Unlike the CDC sinks' high-water
  mark, the guard here keeps the SET of ingested epoch ids
  (``ingested_epochs``): ``matches()`` lists every committed epoch's
  matches log, so it needs the full set, not just the last id;
- the guard's metadata is built through the operator's
  ``_merged_metadata`` (operators/index_base.py), so a commit carrying
  the epoch marker preserves every foreign key already on the index —
  and, symmetrically, the index's own maintenance commits preserve the
  guard (ADVICE r12 #2: the pre-r13 fingerprint/MinHash wrappers
  replaced the metadata wholesale);
- the per-epoch MATCHES LOG is written to ``<root>/matches/epoch=<n>``
  with mode=overwrite BEFORE the index commit: a replay of an
  uncommitted epoch recomputes the same matches against the same index
  version and overwrites idempotently; a replay of a committed epoch is
  skipped by the guard, leaving the log intact;
- within-batch duplicates are the caller's concern (run the family's
  group-rep/self-dedup operator upstream) — these pipelines answer
  "is it already in the corpus", exactly like the batch operators.

Reference contrast: the reference's loader runs its maintenance and its
exactly-once bookkeeping inside each batch cycle
(pkg/redshiftloader/load_processor.go:386-444); this is the same
control shape pointed at a media/text/embedding corpus instead of a
warehouse table.

100 TB shape: each micro-batch pays O(batch) preparation (fingerprints
/ signatures / assignment), a bucket-pruned screen against only the
touched index files, and an O(batch) hard-link append — corpus size
never enters a per-batch term (probes: SCALE_PROBE_r12_fpindex.json,
SCALE_PROBE_r12_streamsoak.json).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class MaintainedIngestPipelineBase:
    """Base for a streaming ingest into a maintained index. Subclasses
    set ``self.spark`` and ``self.config`` (with ``root`` and
    ``checkpoint_dir``) and implement:

    - ``_op()`` → the MaintainedIndexBase operator backing the pipeline;
    - ``_empty_matches_schema()`` → DDL string of the matches log with
      its trailing ``epoch int`` column (returned when no epoch has
      committed yet — the id type comes from the config so it can never
      disagree with the parquet-logged matches, ADVICE r12 #1);
    - ``_ingest_unit(docs, base, epoch_id, guard)`` → the
      family-specific screen → log → commit: screen ``docs`` against
      index version ``base``, write the matches log
      (``_matches_dir(epoch_id)``), and commit the accepted rows with
      ``metadata=self._op()._merged_metadata(base, {**guard,
      **own_keys})`` and ``expected_base=base``.
    """

    # --- bookkeeping -------------------------------------------------------

    def _op(self):
        raise NotImplementedError

    def _empty_matches_schema(self) -> str:
        raise NotImplementedError

    def _ingest_unit(
        self, docs: DataFrame, base: int | None, epoch_id: int, guard: dict
    ) -> None:
        raise NotImplementedError

    def _ingested_epochs(self) -> set[int]:
        return set(self._op().index.read_metadata().get("ingested_epochs", []))

    def _matches_dir(self, epoch_id: int) -> str:
        return os.path.join(self.config.root, "matches", f"epoch={epoch_id}")

    def matches(self) -> DataFrame:
        """The cumulative dedup log across every COMMITTED epoch (an
        uncommitted epoch's log is invisible until its guard lands —
        read-your-commits, never read-your-crashes)."""
        frames = []
        for e in sorted(self._ingested_epochs()):
            d = self._matches_dir(e)
            if os.path.isdir(d):
                frames.append(
                    self.spark.read.parquet(d).withColumn("epoch", F.lit(e))
                )
        if not frames:
            return self.spark.createDataFrame([], self._empty_matches_schema())
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_)
        return out

    # --- the batch unit ----------------------------------------------------

    def ingest_batch(self, docs: DataFrame, epoch_id: int) -> None:
        """One micro-batch under the epoch guard: committed epochs are
        skipped outright; otherwise the family's screen → matches-log →
        CAS commit runs with the guard riding the commit's metadata
        (merged over foreign keys — see module docstring)."""
        done = self._ingested_epochs()
        if epoch_id in done:
            return
        base = self._op().index.current_version()
        self._ingest_unit(
            docs, base, epoch_id,
            {"ingested_epochs": sorted(done | {epoch_id})},
        )
        self._maintain()

    def _maintain(self) -> None:
        """Post-commit maintenance (policy configured on the pipeline)."""
        policy = getattr(self.config, "policy", None)
        if policy is not None:
            policy.after_ingest(self._op().index)

    # --- wiring ------------------------------------------------------------

    def start(self, raw_stream: DataFrame, trigger_available_now: bool = True):
        def process(bdf: DataFrame, eid: int) -> None:
            self.ingest_batch(bdf, eid)

        writer = (
            raw_stream.writeStream.outputMode("append")
            .option(
                "checkpointLocation",
                os.path.join(self.config.checkpoint_dir, "spark"),
            )
            .foreachBatch(process)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_batch(self, docs: DataFrame, epoch_id: int = 0) -> None:
        """Batch-mode execution of the same unit (backfills)."""
        self.ingest_batch(docs, epoch_id)
