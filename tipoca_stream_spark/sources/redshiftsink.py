"""RedshiftSink CR loader — the reference's user-facing config surface.

A user of tipoca-stream operates it entirely through one Kubernetes
custom resource (api/v1/redshiftsink_types.go: RedshiftSinkSpec with
``kafkaBrokers``, ``kafkaTopicRegexes``, ``batcher``, ``loader``,
``releaseCondition``, ``maxReloadingUnits``…). For "switch your stack"
parity, this module parses that SAME manifest (full k8s object or bare
spec) and maps every engine-relevant field onto this repo's configs:

    kafkaBrokers / kafkaTopicRegexes   → kafka_reader(...) args (S1/S2)
    batcher.mask + maskFile            → MaskConfig.from_yaml (P5-P18)
    batcher.sinkGroup.*.maxSizePerBatch→ CdcPipelineConfig byte-flush hint
    batcher.*.maxWaitSeconds           → micro-batch trigger seconds
    loader.redshiftSchema / Group      → warehouse DDL args (sources/jdbc)
    releaseCondition.maxBatcherLag/
      maxLoaderLag                     → LagMonitor thresholds (O3)
    maxReloadingUnits                  → allocate_reloading_units cap (O4)
    suspend                            → pipeline gate (T7)

Operational-only fields (pod templates, images, tolerations, secret
refs) have no engine meaning and are intentionally ignored; ignoring
them is what makes an existing manifest drop-in loadable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from tipoca_stream_spark.functions.masking import MaskConfig


def _parse_quantity(q) -> int | None:
    """k8s resource.Quantity ('0.8Mi', '10Ki', '512') → bytes."""
    if q is None:
        return None
    if isinstance(q, (int, float)):
        return int(q)
    s = str(q).strip()
    units = {"Ki": 1024, "Mi": 1024**2, "Gi": 1024**3, "K": 1000, "M": 1000**2, "G": 1000**3}
    for suffix, mult in sorted(units.items(), key=lambda kv: -len(kv[0])):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(float(s))


@dataclass
class SinkGroupSettings:
    max_size_per_batch_bytes: int | None = None
    max_wait_seconds: int | None = None
    max_concurrency: int | None = None

    @classmethod
    def from_dict(cls, d: dict | None) -> "SinkGroupSettings":
        d = d or {}
        return cls(
            max_size_per_batch_bytes=_parse_quantity(d.get("maxSizePerBatch")),
            max_wait_seconds=d.get("maxWaitSeconds"),
            max_concurrency=d.get("maxConcurrency"),
        )


@dataclass
class RedshiftSinkSpec:
    kafka_brokers: str = ""
    kafka_topic_regexes: str = ""
    suspend: bool = False
    mask: bool = False
    mask_file: str | None = None
    max_reloading_units: int = 1
    redshift_schema: str | None = None
    redshift_group: str | None = None
    max_batcher_lag: int | None = None
    max_loader_lag: int | None = None
    # sinkGroup → settings, per deployment group (all/main/reload/reloadDupe)
    batcher_groups: dict[str, SinkGroupSettings] = field(default_factory=dict)
    loader_groups: dict[str, SinkGroupSettings] = field(default_factory=dict)
    topic_release_conditions: dict[str, dict] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, doc: dict) -> "RedshiftSinkSpec":
        spec = doc.get("spec", doc)  # accept a full manifest or a bare spec
        batcher = spec.get("batcher", {}) or {}
        loader = spec.get("loader", {}) or {}
        release = spec.get("releaseCondition", {}) or {}

        def groups(section: dict) -> dict[str, SinkGroupSettings]:
            sg = section.get("sinkGroup", {}) or {}
            return {name: SinkGroupSettings.from_dict(sg.get(name)) for name in sg}

        return cls(
            kafka_brokers=spec.get("kafkaBrokers", ""),
            kafka_topic_regexes=spec.get("kafkaTopicRegexes", ""),
            suspend=bool(batcher.get("suspend", False) or loader.get("suspend", False)),
            mask=bool(batcher.get("mask", False)),
            mask_file=batcher.get("maskFile"),
            max_reloading_units=int(spec.get("maxReloadingUnits", 1)),
            redshift_schema=loader.get("redshiftSchema"),
            redshift_group=loader.get("redshiftGroup"),
            max_batcher_lag=release.get("maxBatcherLag"),
            max_loader_lag=release.get("maxLoaderLag"),
            batcher_groups=groups(batcher),
            loader_groups=groups(loader),
            topic_release_conditions=spec.get("topicReleaseCondition", {}) or {},
        )

    @classmethod
    def from_yaml(cls, path: str) -> "RedshiftSinkSpec":
        import yaml

        with open(path) as f:
            return cls.from_dict(yaml.safe_load(f) or {})

    # ----- engine wiring -------------------------------------------------

    def group(self, name: str = "main") -> SinkGroupSettings:
        """Settings for a sink group, falling back to ``all`` then empty —
        the same precedence the controller applies."""
        for candidate in (name, "all"):
            if candidate in self.batcher_groups:
                return self.batcher_groups[candidate]
        return SinkGroupSettings()

    def mask_config(self, salt: str, algo: str = "sha1") -> MaskConfig | None:
        """P-family: the CR's maskFile is the reference's own mask YAML."""
        if not (self.mask and self.mask_file):
            return None
        from tipoca_stream_spark.functions.mask_diff import load_reference_mask_config

        return load_reference_mask_config(self.mask_file, salt=salt, algo=algo)

    def kafka_reader_args(self) -> dict[str, str]:
        return {"brokers": self.kafka_brokers, "topic_pattern": self.kafka_topic_regexes}

    def trigger_seconds(self, group: str = "main") -> int | None:
        return self.group(group).max_wait_seconds

    def to_pipeline_config(
        self,
        table: str,
        primary_keys: list[str],
        row_schema,
        target_root: str,
        checkpoint_dir: str,
        salt: str,
        group: str = "main",
        **overrides,
    ):
        """One table's CdcPipelineConfig from this CR — the manifest the
        user already runs becomes the engine's pipeline config (mask file,
        flush cadence); engine-only knobs (catalog_buckets, zone_cols…)
        pass through ``overrides``."""
        from tipoca_stream_spark.streaming.pipeline import CdcPipelineConfig

        return CdcPipelineConfig(
            table=table,
            primary_keys=primary_keys,
            row_schema=row_schema,
            target_root=target_root,
            checkpoint_dir=checkpoint_dir,
            mask_config=self.mask_config(salt=salt),
            **overrides,
        )

    def lag_thresholds(self) -> tuple[int, int]:
        from tipoca_stream_spark.streaming.supervisor import (
            DEFAULT_MAX_BATCHER_LAG,
            DEFAULT_MAX_LOADER_LAG,
        )

        return (
            self.max_batcher_lag if self.max_batcher_lag is not None else DEFAULT_MAX_BATCHER_LAG,
            self.max_loader_lag if self.max_loader_lag is not None else DEFAULT_MAX_LOADER_LAG,
        )


def lag_monitor_from_spec(spec: RedshiftSinkSpec):
    """O3 wiring: a LagMonitor carrying the CR's global maxBatcherLag and
    its per-topic topicReleaseCondition overrides."""
    from tipoca_stream_spark.streaming.supervisor import LagMonitor

    overrides = {
        topic: cond["maxBatcherLag"]
        for topic, cond in spec.topic_release_conditions.items()
        if isinstance(cond, dict) and "maxBatcherLag" in cond
    }
    batcher_lag, _ = spec.lag_thresholds()
    return LagMonitor(max_lag=batcher_lag, max_lag_overrides=overrides)
