"""End-to-end streaming tests (FIXTURES.md F7): file-source stream of
Debezium JSON envelopes → CdcPipeline → versioned parquet target, checked
against a replay oracle. Also covers schema evolution mid-stream, the
epoch guard, the gzip-JSON batch sink, and the supervisor's release flow."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import types as T

from tipoca_stream_spark.functions.masking import MaskConfig, TableMaskRules
from tipoca_stream_spark.sources.debezium import SchemaRegistry, decode_envelope, envelope_schema
from tipoca_stream_spark.sources.sinks import Job, write_batch_json_gz, write_manifest
from tipoca_stream_spark.sources.target import ConcurrentWriteError, ParquetTargetTable
from tipoca_stream_spark.streaming import epoch_guard
from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig, kafka_available
from tipoca_stream_spark.streaming.supervisor import LagMonitor, Supervisor

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)

RAW_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("value", T.StringType()),
    ]
)


def envelope(id_, name, op, offset, partition=0):
    before = {"id": id_, "name": "old"} if op in ("u", "d") else None
    after = {"id": id_, "name": name} if op in ("c", "u") else None
    return {
        "topic": "db.server.customers",
        "partition": partition,
        "offset": offset,
        "value": json.dumps({"before": before, "after": after, "op": op, "ts_ms": offset}),
    }


def write_stream_file(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    return CdcPipeline(spark, cfg)


def run_stream(spark, pipeline, input_dir):
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .json(input_dir)
    )
    q = pipeline.start(raw)
    q.awaitTermination(120)
    return pipeline.target


def test_stream_end_to_end_lww(spark, tmp_path, pipeline):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    # batch 1: creates; batch 2: update + delete + re-create
    write_stream_file(
        input_dir / "b1.json",
        [envelope(1, "alice", "c", 1), envelope(2, "bob", "c", 2), envelope(3, "carol", "c", 3)],
    )
    write_stream_file(
        input_dir / "b2.json",
        [
            envelope(1, "alice2", "u", 10),
            envelope(2, None, "d", 11),
            envelope(2, "bob2", "c", 12),
            envelope(3, None, "d", 13),
        ],
    )
    target = run_stream(spark, pipeline, str(input_dir))
    rows = {r["id"]: r["name"] for r in target.read().collect()}
    assert rows == {1: "alice2", 2: "bob2"}
    # two micro-batches (ids 0, 1) → the mark sits at the second
    assert epoch_guard.last_epoch(pipeline.target) == 1
    # A1 counters observed per epoch
    assert pipeline.metrics[0]["create"] == 3


def test_stream_masking_applied(spark, tmp_path):
    import hashlib

    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mask_config=MaskConfig(
            salt="s3cr3t",
            tables={"customers": TableMaskRules(non_pii_keys=["id"], length_keys=["name"])},
        ),
    )
    p = CdcPipeline(spark, cfg)
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    write_stream_file(input_dir / "b1.json", [envelope(1, "alice", "c", 1)])
    run_stream(spark, p, str(input_dir))
    row = p.target.read().collect()[0]
    assert row["id"] == "1"  # non-PII, stringly
    assert row["name"] == hashlib.sha1(b"alices3cr3t").hexdigest()
    assert row["name_length"] == 5


def test_epoch_guard_makes_merge_idempotent(spark, pipeline):
    batch = pipeline.transform(
        spark.createDataFrame([tuple(envelope(1, "x", "c", 1).values())], RAW_SCHEMA)
    )
    pipeline.merge_batch(batch, epoch_id=7)
    v1 = pipeline.target.current_version()
    pipeline.merge_batch(batch, epoch_id=7)  # replay of the same epoch
    assert pipeline.target.current_version() == v1  # no double-apply


def test_schema_evolution_add_column(spark, pipeline):
    # D5: batch 2 carries a new column; old rows backfill NULL
    batch1 = pipeline.transform(
        spark.createDataFrame([tuple(envelope(1, "a", "c", 1).values())], RAW_SCHEMA)
    )
    pipeline.merge_batch(batch1, 0)

    wide_schema = T.StructType(ROW_SCHEMA.fields + [T.StructField("tier", T.StringType())])
    raw2 = spark.createDataFrame(
        [
            (
                "db.server.customers",
                0,
                20,
                json.dumps(
                    {"before": None, "after": {"id": 2, "name": "b", "tier": "gold"}, "op": "c", "ts_ms": 20}
                ),
            )
        ],
        RAW_SCHEMA,
    )
    p2cfg = pipeline.config
    wide = decode_envelope(raw2, wide_schema)
    from tipoca_stream_spark.operators.cdc import extract_row_image

    pipeline.merge_batch(extract_row_image(wide), 1)
    rows = {r["id"]: (r["name"], r["tier"]) for r in pipeline.target.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", "gold")}


def test_versioned_target_swap_and_vacuum(spark, tmp_path):
    t1 = ParquetTargetTable(spark, str(tmp_path), "main")
    t2 = ParquetTargetTable(spark, str(tmp_path), "main_reload")
    t1.write(spark.createDataFrame([(1, "old")], "id long, name string"))
    t1.write(spark.createDataFrame([(1, "older?")], "id long, name string"))
    t2.write(spark.createDataFrame([(1, "new")], "id long, name string"))
    t1.swap_from(t2)  # D7 release
    assert [r["name"] for r in t1.read().collect()] == ["new"]
    dropped = t1.vacuum(keep=1)
    assert dropped == [1, 2]
    assert [r["name"] for r in t1.read().collect()] == ["new"]


def test_supervisor_release_flow(spark, tmp_path, pipeline):
    reload_cfg = CdcPipelineConfig(
        table="customers_reload",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=pipeline.config.target_root,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    reload_p = CdcPipeline(spark, reload_cfg)
    raw = spark.createDataFrame([tuple(envelope(1, "masked!", "c", 1).values())], RAW_SCHEMA)
    reload_p.run_batch(raw)
    pipeline.run_batch(
        spark.createDataFrame([tuple(envelope(1, "clear", "c", 1).values())], RAW_SCHEMA)
    )

    sup = Supervisor(spark, LagMonitor(max_lag=100))
    sup.add_table("customers", pipeline)
    sup.begin_mask_reload("customers", reload_p)
    assert sup.status()["customers"]["reloading"]

    sup.lag.observe_progress("customers_reload", 1000)  # still catching up
    assert sup.release_pass() == []
    sup.lag.observe_progress("customers_reload", 5)  # realtime now
    assert sup.release_pass() == ["customers"]
    assert {r["name"] for r in pipeline.target.read().collect()} == {"masked!"}
    assert sup.status()["customers"]["released"]


def test_gzip_json_sink_and_manifest(spark, tmp_path):
    batch = spark.createDataFrame(
        [(0, 5, 1, "a"), (0, 7, 2, None), (1, 9, 3, "c")],
        "partition int, kafkaoffset long, id long, name string",
    )
    out = str(tmp_path / "s3")
    paths = write_batch_json_gz(batch, out)
    names = sorted(os.path.basename(p) for p in paths)
    assert names == ["7_offset_0_partition.json.gz", "9_offset_1_partition.json.gz"]
    rows = []
    for p in paths:
        with gzip.open(p, "rt") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    assert {r["id"] for r in rows} == {1, 2, 3}
    assert all("name" not in r for r in rows if r["id"] == 2)  # nulls omitted (P14)
    m = write_manifest(paths, str(tmp_path / "manifest.json"))
    entries = json.load(open(m))["entries"]
    assert len(entries) == 2 and all(e["mandatory"] for e in entries)


def test_job_record_roundtrip():
    j = Job("db.server.customers", 0, 99, create_events=10, update_events=2)
    j2 = Job.from_json(j.to_json())
    assert j2 == j
    assert j2.allow_merge  # updates present
    assert not Job("t", 0, 1, create_events=5).allow_merge  # M6 fast path


def test_wire_format_schema_id(spark):
    import struct

    reg = SchemaRegistry()
    reg.register(42, ROW_SCHEMA)
    assert reg.get(42) == envelope_schema(ROW_SCHEMA)
    payload = json.dumps({"before": None, "after": {"id": 5, "name": "n"}, "op": "c", "ts_ms": 0})
    framed = struct.pack(">bI", 0, 42) + payload.encode()
    df = spark.createDataFrame(
        [("t", 0, 1, bytearray(framed))],
        T.StructType(
            [
                T.StructField("topic", T.StringType()),
                T.StructField("partition", T.IntegerType()),
                T.StructField("offset", T.LongType()),
                T.StructField("value", T.BinaryType()),
            ]
        ),
    )
    out = decode_envelope(df, ROW_SCHEMA, framed=True).collect()[0]
    assert out["schema_id"] == 42
    assert out["after"]["id"] == 5


def test_kafka_gated(spark):
    assert kafka_available(spark) is False  # no connector jars in container


def test_partitioned_target_with_compaction(spark, tmp_path):
    """compact_every on a catalog-bucketed target: the stream's second
    epoch triggers a compaction commit that rewrites the target into one
    file per bucket."""
    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_offsets=True,
        catalog_buckets=4,
        compact_every=2,
    )
    p = CdcPipeline(spark, cfg)
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    write_stream_file(
        input_dir / "b1.json",
        [envelope(1, "alice", "c", 1), envelope(2, "bob", "c", 2)],
    )
    write_stream_file(
        input_dir / "b2.json",
        [envelope(1, "alice2", "u", 10), envelope(3, "carol", "c", 11)],
    )
    target = run_stream(spark, p, str(input_dir))
    rows = {r["id"]: r["name"] for r in target.read().collect()}
    assert rows == {1: "alice2", 2: "bob", 3: "carol"}
    # the current (compacted) version holds one file per bucket
    v = target.current_version()
    by_bucket = target._bucket_files(v)
    assert by_bucket and all(len(fs) == 1 for fs in by_bucket.values()), by_bucket
    # 2 epochs + 1 compaction commit = version 3
    assert v == 3


def test_epoch_guard_commits_atomically_with_version(spark, tmp_path):
    """The epoch mark rides in the target version's _meta.json: a replayed
    epoch after a completed commit is a no-op even on the blind append
    fast-path (store_offsets=False), and a crash BEFORE the pointer flip
    leaves the old version + old mark, so the replay re-merges cleanly
    instead of double-appending.

    Every input also runs through a model of the set guard the mark
    replaced (each version carried the set of every epoch id merged into
    its lineage): an empty epoch, a crash before the flip, an epoch that
    loses the CAS to a foreign writer and then replays, and a restart on a
    new CdcPipeline over the same checkpoint must each commit exactly the
    epochs the set guard committed."""
    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_offsets=False,
    )
    p = CdcPipeline(spark, cfg)
    foreign = ParquetTargetTable(spark, cfg.target_root, cfg.table)
    set_guard: dict = {None: frozenset()}  # version -> the set guard's ids

    def run(pipe, epoch_id, events, lose_cas=False):
        base = pipe.target.current_version()
        want = bool(events) and not lose_cas and epoch_id not in set_guard[base]
        raw = spark.createDataFrame([tuple(e.values()) for e in events], RAW_SCHEMA)
        if lose_cas:
            real = pipe._merge_and_commit

            def interleaved(*args, **kwargs):
                # a foreign commit lands after the epoch read its base; it
                # carries the current metadata (and so the guard) forward
                foreign.write(foreign.read())
                set_guard[foreign.current_version()] = set_guard[base]
                return real(*args, **kwargs)

            pipe._merge_and_commit = interleaved
            try:
                with pytest.raises(ConcurrentWriteError):
                    pipe.run_batch(raw, epoch_id)
            finally:
                del pipe._merge_and_commit
        else:
            pipe.run_batch(raw, epoch_id)
        v = pipe.target.current_version()
        got = v != base and epoch_guard.last_epoch(pipe.target) == epoch_id
        assert got == want, (epoch_id, got, want)
        if got:
            set_guard[v] = set_guard[base] | {epoch_id}

    alice_bob = [envelope(1, "alice", "c", 1), envelope(2, "bob", "c", 2)]
    run(p, 7, alice_bob)
    assert {r["id"] for r in p.target.read().collect()} == {1, 2}
    assert epoch_guard.last_epoch(p.target) == 7

    # replay after a completed commit: guard skips, no duplicate append
    run(p, 7, alice_bob)
    assert p.target.read().count() == 2
    assert p.target.current_version() == 1

    # crash before the pointer flip: version dir exists but _CURRENT still
    # points at v1 (simulated by rolling the pointer back after a merge)
    carol = [envelope(3, "carol", "c", 3)]
    run(p, 8, carol)
    assert p.target.current_version() == 2
    assert p.target.read().count() == 3
    with open(p.target._current_file, "w") as f:
        f.write("1")  # simulate: v2 written but never committed
    assert epoch_guard.last_epoch(p.target) == 7  # epoch 8 not visible -> will replay
    run(p, 8, carol)
    # replay re-appended onto v1 and committed a fresh version: same result
    # as the lost commit, no double-append
    assert sorted(r["id"] for r in p.target.read().collect()) == [1, 2, 3]
    assert epoch_guard.last_epoch(p.target) == 8

    # an empty epoch commits nothing and leaves the mark; so does its replay
    run(p, 9, [])
    run(p, 9, [])
    assert epoch_guard.last_epoch(p.target) == 8

    # an epoch that loses the CAS records nothing; its replay commits
    dave = [envelope(4, "dave", "c", 4)]
    run(p, 10, dave, lose_cas=True)
    assert epoch_guard.last_epoch(p.target) == 8
    run(p, 10, dave)

    # restart: a new pipeline on the same checkpoint replays the last
    # epoch (skipped) and then moves on
    p2 = CdcPipeline(spark, cfg)
    run(p2, 10, dave)
    run(p2, 11, [envelope(5, "erin", "c", 5)])
    assert sorted(r["id"] for r in p2.target.read().collect()) == [1, 2, 3, 4, 5]
    assert epoch_guard.last_epoch(p2.target) == 11


def test_epoch_mark_size_is_flat(spark, tmp_path):
    """The guard's metadata does not grow with the stream: _meta.json is
    the mark alone, so twenty epochs later it has the same byte size (the
    former set guard added one id per epoch)."""
    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_offsets=False,
    )
    p = CdcPipeline(spark, cfg)

    def meta_size_after(epoch_id):
        raw = spark.createDataFrame(
            [tuple(envelope(epoch_id, "x", "c", epoch_id).values())], RAW_SCHEMA
        )
        p.run_batch(raw, epoch_id)
        path = os.path.join(p.target.path, f"v={p.target.current_version()}", "_meta.json")
        with open(path) as f:
            assert json.load(f) == {"last_epoch": epoch_id}
        return os.path.getsize(path)

    assert meta_size_after(10) == meta_size_after(30)


def test_epoch_metrics_are_bounded(spark, tmp_path, monkeypatch):
    """CdcPipeline.metrics keeps only the newest METRICS_KEPT epoch
    records, so a long-running stream holds bounded driver memory."""
    from tipoca_stream_spark.streaming import pipeline as pipeline_mod

    monkeypatch.setattr(pipeline_mod, "METRICS_KEPT", 3)
    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_offsets=False,
    )
    p = CdcPipeline(spark, cfg)
    empty = spark.createDataFrame([], RAW_SCHEMA)
    for epoch_id in range(5):  # empty epochs: counted, nothing committed
        p.run_batch(empty, epoch_id)
    assert len(p.metrics) == 3
    assert [m["epoch"] for m in p.metrics] == [2, 3, 4]
    assert p.metrics[-1] == {"epoch": 4, "create": 0, "update": 0, "delete": 0}


def test_target_metadata_survives_compaction(spark, tmp_path):
    from tipoca_stream_spark.sources.target import ParquetTargetTable

    t = ParquetTargetTable(spark, str(tmp_path / "tgt"), "t1")
    df = spark.range(10).toDF("id")
    t.write(df, metadata={"last_epoch": 3})
    t.compact()
    assert t.read_metadata() == {"last_epoch": 3}
    assert t.read().count() == 10


def _bucketed_pipeline(spark, tmp_path, name, catalog_buckets=None):
    cfg = CdcPipelineConfig(
        table=name,
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        catalog_buckets=catalog_buckets,
    )
    return CdcPipeline(spark, cfg)


def test_hash_bucketed_merge_equals_plain(spark, tmp_path):
    """catalog_buckets changes the commit layout, never the result: the
    bucketed target equals the plain pipeline on the same event stream."""
    batches = [
        [envelope(i, f"v{i}", "c", i) for i in range(8)],
        [envelope(3, "v3b", "u", 10), envelope(5, None, "d", 11),
         envelope(9, "v9", "c", 12)],
    ]
    plain = _bucketed_pipeline(spark, tmp_path, "plain")
    bucketed = _bucketed_pipeline(spark, tmp_path, "bucketed", catalog_buckets=4)
    for epoch, evs in enumerate(batches):
        df = spark.createDataFrame([tuple(e.values()) for e in evs], RAW_SCHEMA)
        plain.run_batch(df, epoch)
        bucketed.run_batch(df, epoch)
    cols = ["id", "name"]
    a = {tuple(r[c] for c in cols) for r in plain.target.read().collect()}
    b = {tuple(r[c] for c in cols) for r in bucketed.target.read().collect()}
    assert a == b and len(a) == 8  # 8 created +1 new -1 deleted = 8


def test_hash_bucketed_schema_evolution_full_rewrite(spark, tmp_path):
    """An add-column epoch cannot delta-commit (linked files can't gain
    columns) — it must fall back to a full rewrite and stay correct."""
    import json

    p = _bucketed_pipeline(spark, tmp_path, "evolve", catalog_buckets=4)
    df1 = spark.createDataFrame(
        [tuple(envelope(i, f"v{i}", "c", i).values()) for i in range(4)], RAW_SCHEMA
    )
    p.run_batch(df1, 0)
    # widen the schema: new column appears in batch 2
    wide_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType()),
         T.StructField("email", T.StringType())]
    )
    p.config.row_schema = wide_schema
    ev = {
        "topic": "db.server.evolve", "partition": 0, "offset": 50,
        "value": json.dumps({"before": None,
                             "after": {"id": 9, "name": "n9", "email": "e9"},
                             "op": "c", "ts_ms": 50}),
    }
    p.run_batch(spark.createDataFrame([tuple(ev.values())], RAW_SCHEMA), 1)
    rows = {r["id"]: (r["name"], r["email"]) for r in p.target.read().collect()}
    assert rows[9] == ("n9", "e9")
    assert rows[0] == ("v0", None) and len(rows) == 5  # backfilled as NULL
