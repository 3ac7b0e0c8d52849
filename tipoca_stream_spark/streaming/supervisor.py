"""Control plane: per-table query supervision, lag-based "realtime"
detection, and mask-reload cutover (SURVEY.md §2.12 O1-O6).

The reference's Kubernetes operator reconciles three sink groups per table
during a mask migration (main / reload / reloadDupe —
sinkgroup_controller.go:20-30) and releases a table when it reaches
"realtime": batcher lag ≤ 100 AND loader lag ≤ 10
(controllers/sinkgroup_controller.go:26-27, realtime_calculator.go:215-346).

Spark-era shape:
- ``LagMonitor`` (O3) is a plain per-query table of the latest lag
  figure. Nothing feeds it automatically: the caller hands it each
  batch's ``numInputRows`` through ``observe_progress``, and that row
  count stands in for lag. No ``StreamingQueryListener`` is registered,
  and no source offsets are read.
- ``Supervisor`` owns {table → CdcPipeline + query}, runs reload backfills
  in batch mode, and performs the release swap (O2/O6/D7): when the reload
  pipeline is realtime, atomically flip the main target to the reload
  table's data and retire the reload pipeline.
- Release throttling: ≤ ``max_topic_release`` tables per pass
  (redshiftsink_controller.go:76).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from tipoca_stream_spark.sources.target import ParquetTargetTable
from tipoca_stream_spark.streaming.pipeline import CdcPipeline

DEFAULT_MAX_BATCHER_LAG = 100  # sinkgroup_controller.go:26
DEFAULT_MAX_LOADER_LAG = 10  # sinkgroup_controller.go:27
DEFAULT_MAX_TOPIC_RELEASE = 5  # redshiftsink_controller.go:76


@dataclass
class LagMonitor:
    """O3: per-query lag table, fed by hand. ``observe_progress`` records
    the caller-supplied ``numInputRows`` of a query's latest batch as its
    lag; ``is_realtime`` compares that figure with the ceiling. It is not
    a ``StreamingQueryListener`` and reads no source offsets."""

    max_lag: int = DEFAULT_MAX_BATCHER_LAG
    last_lag: dict[str, int] = field(default_factory=dict)
    # per-topic release-condition overrides — the CR's topicReleaseCondition
    # map (redshiftsink_types.go TopicReleaseCondition)
    max_lag_overrides: dict[str, int] = field(default_factory=dict)

    def observe_progress(self, query_name: str, num_input_rows: int) -> None:
        self.last_lag[query_name] = num_input_rows

    def is_realtime(self, query_name: str) -> bool:
        """Release condition: recent input volume under the lag ceiling
        (the reference compares Kafka last-offset - current-offset);
        per-topic overrides win over the global ceiling."""
        limit = self.max_lag_overrides.get(query_name, self.max_lag)
        return self.last_lag.get(query_name, limit + 1) <= limit


@dataclass
class ManagedTable:
    main: CdcPipeline
    reload: CdcPipeline | None = None  # O2 reload sink group during mask migration
    released: bool = True


class Supervisor:
    """O1: the reconcile loop as driver-side query management."""

    def __init__(
        self,
        spark: SparkSession,
        lag_monitor: LagMonitor | None = None,
        max_topic_release: int = DEFAULT_MAX_TOPIC_RELEASE,
    ):
        self.spark = spark
        self.tables: dict[str, ManagedTable] = {}
        self.lag = lag_monitor or LagMonitor()
        self.max_topic_release = max_topic_release
        # O5 version tracking: Status.MaskStatus.CurrentMaskVersion analogue
        # (redshiftsink_controller.go:409-417) + the in-flight desired pair
        self.current_mask_version: str | None = None
        self.current_mask_config = None
        self._pending_mask: tuple[str, object] | None = None
        # O6 release notification (release.go:178-211): optional Notifier +
        # the repo/file context the message links to; None = silent
        self.notifier = None
        self.notify_schema = "public"
        self.notify_repo = ""
        self.notify_mask_file = ""

    def add_table(self, name: str, pipeline: CdcPipeline) -> None:
        self.tables[name] = ManagedTable(main=pipeline)

    def begin_mask_reload(self, name: str, reload_pipeline: CdcPipeline) -> None:
        """O2/O5: a mask-config change triggers a parallel backfill pipeline
        writing to ``<table>_reload`` while main keeps serving."""
        t = self.tables[name]
        t.reload = reload_pipeline
        t.released = False

    def reconcile_mask_change(
        self, current_cfg, desired_cfg, reload_factory
    ) -> list[str]:
        """O5: diff two mask configs and begin reload pipelines for every
        managed table whose rules changed (controllers/mask_diff.go:16-128 →
        sinkgroup reload). ``reload_factory(name) -> CdcPipeline`` builds
        the backfill pipeline (it carries the DESIRED mask config)."""
        from tipoca_stream_spark.functions.mask_diff import modified_tables

        changed = modified_tables(current_cfg, desired_cfg)
        begun = []
        for name in self.tables:
            if name in changed and desired_cfg.table_included(name):
                self.begin_mask_reload(name, reload_factory(name))
                begun.append(name)
        return begun

    def reconcile_mask_file(
        self, cache, mask_file: str, salt: str, reload_factory, algo: str = "sha1"
    ) -> list[str]:
        """O5 end-to-end: resolve the LATEST mask version from the config
        cache and reconcile against the currently-released version — the
        controller's fetchLatestMaskFileVersion → currentMaskVersion
        comparison → reload flow (redshiftsink_controller.go:399-427).
        The desired config is loaded from the cache's SNAPSHOT path, so the
        bytes always match the resolved version. The new version commits to
        ``current_mask_version`` once every begun reload has released (the
        reference flips MaskStatus when all topics reach released)."""
        from tipoca_stream_spark.functions.mask_diff import (
            load_reference_mask_config,
        )

        version = cache.get_file_version(mask_file)
        if version == self.current_mask_version:
            return []
        desired = load_reference_mask_config(
            cache.get_file_local_path(mask_file), salt=salt, algo=algo
        )
        if self.current_mask_config is None:
            # first deployment (currentMaskVersion == ""): every included
            # managed table reloads (controllers/mask_diff.go:81-83)
            begun = []
            for name in self.tables:
                if desired.table_included(name):
                    self.begin_mask_reload(name, reload_factory(name))
                    begun.append(name)
        else:
            begun = self.reconcile_mask_change(
                self.current_mask_config, desired, reload_factory
            )
        self._pending_mask = (version, desired)
        if not begun:
            self._commit_pending_mask()
        return begun

    def _commit_pending_mask(self) -> None:
        if self._pending_mask is not None:
            self.current_mask_version, self.current_mask_config = self._pending_mask
            self._pending_mask = None

    def release_pass(self) -> list[str]:
        """O6/D7: release up to ``max_topic_release`` realtime reload tables
        per pass — swap main target to the reload data, retire the reload
        pipeline (release.go:69-146, throttled per #141)."""
        released = []
        for name, t in self.tables.items():
            if len(released) >= self.max_topic_release:
                break
            if t.reload is None or t.released:
                continue
            if not self.lag.is_realtime(f"{name}_reload"):
                continue
            t.main.target.swap_from(t.reload.target)
            t.reload = None
            t.released = True
            released.append(name)
            if self.notifier is not None:
                from tipoca_stream_spark.streaming.notify import notify_topic_release

                desired = (
                    self._pending_mask[0]
                    if self._pending_mask is not None
                    else (self.current_mask_version or "")
                )
                notify_topic_release(
                    self.notifier,
                    self.notify_schema,
                    name if name.count(".") >= 2 else f"db.server.{name}",
                    self.notify_repo,
                    self.notify_mask_file,
                    self.current_mask_version or "",
                    desired,
                )
        # all reloads done → the in-flight mask version becomes current
        # (the reference updates MaskStatus.CurrentMaskVersion once every
        # topic is released)
        if self._pending_mask is not None and all(
            t.reload is None for t in self.tables.values()
        ):
            self._commit_pending_mask()
        return released

    def status(self) -> dict[str, dict]:
        return {
            name: {
                "released": t.released,
                "reloading": t.reload is not None,
                "realtime": self.lag.is_realtime(name),
                "target_version": t.main.target.current_version(),
            }
            for name, t in self.tables.items()
        }
