"""RedshiftSink CR parsing: an existing user manifest (shape of the
reference's config/samples/tipoca_v1_redshiftsink.yaml) must load as-is,
with operational-only fields ignored and engine fields mapped onto this
repo's configs — the drop-in config-surface parity check."""

from __future__ import annotations

import textwrap

from tipoca_stream_spark.sources.redshiftsink import RedshiftSinkSpec, _parse_quantity

# same field shape as the reference's sample CR (values inlined; pod
# templates and secret refs present precisely so the test proves they
# are tolerated and ignored)
SAMPLE = textwrap.dedent(
    """
    apiVersion: tipoca.k8s.practo.dev/v1
    kind: RedshiftSink
    metadata:
      name: inventory
    spec:
      secretRefName: redshiftsink-secret
      secretRefNamespace: kube-system
      kafkaBrokers: "kafka1.example.com,kafka2.example.com"
      kafkaVersion: "2.6.0"
      kafkaTopicRegexes: "^db.inventory*"
      kafkaLoaderTopicPrefix: "loader-"
      maxReloadingUnits: 5
      releaseCondition:
        maxBatcherLag: 200
        maxLoaderLag: 20
      batcher:
        suspend: false
        mask: true
        maskFile: "/etc/mask/database.yaml"
        sinkGroup:
          all:
            maxSizePerBatch: 10Mi
            maxWaitSeconds: 30
            deploymentUnit:
              maxTopics: 30
              podTemplate:
                resources:
                  requests: {cpu: 100m, memory: 200Mi}
          reload:
            maxSizePerBatch: 500Ki
            maxWaitSeconds: 60
      loader:
        suspend: false
        redshiftSchema: "inventory"
        redshiftGroup: "sales"
        sinkGroup:
          all:
            maxSizePerBatch: 1Gi
            maxWaitSeconds: 30
    """
)


def test_sample_manifest_round_trip(tmp_path):
    p = tmp_path / "rs.yaml"
    p.write_text(SAMPLE)
    spec = RedshiftSinkSpec.from_yaml(str(p))
    assert spec.kafka_brokers == "kafka1.example.com,kafka2.example.com"
    assert spec.kafka_topic_regexes == "^db.inventory*"
    assert spec.mask and spec.mask_file == "/etc/mask/database.yaml"
    assert not spec.suspend
    assert spec.max_reloading_units == 5
    assert spec.redshift_schema == "inventory" and spec.redshift_group == "sales"
    assert spec.lag_thresholds() == (200, 20)
    assert spec.kafka_reader_args() == {
        "brokers": "kafka1.example.com,kafka2.example.com",
        "topic_pattern": "^db.inventory*",
    }


def test_sink_group_precedence_matches_controller():
    spec = RedshiftSinkSpec.from_dict(
        {
            "batcher": {
                "sinkGroup": {
                    "all": {"maxSizePerBatch": "1Mi", "maxWaitSeconds": 30},
                    "reload": {"maxSizePerBatch": "500Ki", "maxWaitSeconds": 60},
                }
            }
        }
    )
    # named group wins; anything else falls back to `all`
    assert spec.group("reload").max_size_per_batch_bytes == 500 * 1024
    assert spec.group("reload").max_wait_seconds == 60
    assert spec.group("main").max_size_per_batch_bytes == 1024 * 1024
    assert spec.trigger_seconds("main") == 30
    # and a spec with no groups degrades to empty settings
    assert RedshiftSinkSpec.from_dict({}).group("main").max_wait_seconds is None


def test_quantity_parsing():
    assert _parse_quantity("10Mi") == 10 * 1024**2
    assert _parse_quantity("0.8Mi") == int(0.8 * 1024**2)
    assert _parse_quantity("1Gi") == 1024**3
    assert _parse_quantity("500K") == 500_000
    assert _parse_quantity("512") == 512
    assert _parse_quantity(None) is None


def test_defaults_without_release_condition():
    spec = RedshiftSinkSpec.from_dict({"kafkaBrokers": "b:9092"})
    assert spec.lag_thresholds() == (100, 10)  # controller defaults


def test_mask_config_loads_reference_yaml(tmp_path):
    mask = tmp_path / "database.yaml"
    mask.write_text(
        "non_pii_keys:\n  customers:\n    - email_length\n"
        "length_keys:\n  customers:\n    - email\n"
    )
    spec = RedshiftSinkSpec.from_dict(
        {"batcher": {"mask": True, "maskFile": str(mask)}}
    )
    cfg = spec.mask_config(salt="s3cr3t")
    assert cfg is not None
    rules = cfg.tables["customers"]
    assert rules.length_keys == ["email"]
    # mask disabled → no config regardless of file
    off = RedshiftSinkSpec.from_dict({"batcher": {"mask": False, "maskFile": str(mask)}})
    assert off.mask_config(salt="x") is None


def test_cr_builds_a_running_pipeline(spark, tmp_path):
    """The CR → CdcPipelineConfig path must produce a pipeline that masks
    per the CR's maskFile and merges a batch end-to-end."""
    import json

    from pyspark.sql import types as T

    from tipoca_stream_spark.streaming.pipeline import CdcPipeline

    mask = tmp_path / "database.yaml"
    mask.write_text("length_keys:\n  t:\n    - name\n")
    spec = RedshiftSinkSpec.from_dict(
        {"batcher": {"mask": True, "maskFile": str(mask)},
         "kafkaBrokers": "b:9092", "kafkaTopicRegexes": "^db.*"}
    )
    row_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    cfg = spec.to_pipeline_config(
        table="t",
        primary_keys=["id"],
        row_schema=row_schema,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        salt="s3cr3t",
        catalog_buckets=2,
    )
    p = CdcPipeline(spark, cfg)
    raw_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ]
    )
    ev = ("db.server.t", 0, 0,
          json.dumps({"before": None, "after": {"id": 1, "name": "alice"}, "op": "c", "ts_ms": 0}))
    p.run_batch(spark.createDataFrame([ev], raw_schema), 0)
    row = p.target.read().collect()[0]
    # name is PII → masked hash; name_length derived per the CR's mask file
    assert row["name"] != "alice" and row["name_length"] == 5


def test_per_topic_release_condition_overrides():
    from tipoca_stream_spark.sources.redshiftsink import lag_monitor_from_spec

    spec = RedshiftSinkSpec.from_dict(
        {
            "releaseCondition": {"maxBatcherLag": 100, "maxLoaderLag": 10},
            "topicReleaseCondition": {"db.inventory.orders": {"maxBatcherLag": 0}},
        }
    )
    mon = lag_monitor_from_spec(spec)
    mon.observe_progress("db.inventory.orders", 1)
    mon.observe_progress("db.inventory.users", 1)
    assert not mon.is_realtime("db.inventory.orders")  # override: must be fully caught up
    assert mon.is_realtime("db.inventory.users")  # global ceiling applies
