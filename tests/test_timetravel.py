"""Time travel + change-data-feed on the versioned target: historical
reads, keyed/keyless diffs with the Delta CDF change-type vocabulary, and
the inode-pruning claim — CDF over a bucket-delta history must SCAN only
the buckets the window actually touched."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.sources.target import ParquetTargetTable
from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

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


def envelope(i, name, op, off):
    after = None if op == "d" else {"id": i, "name": name}
    before = {"id": i, "name": "old"} if op in ("u", "d") else None
    return {
        "topic": "db.server.t",
        "partition": 0,
        "offset": off,
        "value": json.dumps({"before": before, "after": after, "op": op, "ts_ms": off}),
    }


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = CdcPipelineConfig(
        table="cdf",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        catalog_buckets=8,
    )
    p = CdcPipeline(spark, cfg)
    batches = [
        [envelope(i, f"v{i}", "c", i) for i in range(16)],
        [envelope(3, "v3b", "u", 20), envelope(5, None, "d", 21), envelope(99, "new", "c", 22)],
    ]
    for epoch, evs in enumerate(batches):
        p.run_batch(spark.createDataFrame([tuple(e.values()) for e in evs], RAW_SCHEMA), epoch)
    return p


def test_time_travel_reads_history(pipeline):
    v1, v2 = pipeline.target.versions()
    hist = {r["id"]: r["name"] for r in pipeline.target.read(version=v1).collect()}
    now = {r["id"]: r["name"] for r in pipeline.target.read(version=v2).collect()}
    assert len(hist) == 16 and hist[3] == "v3" and 5 in hist and 99 not in hist
    assert len(now) == 16 and now[3] == "v3b" and 5 not in now and now[99] == "new"
    with pytest.raises(FileNotFoundError):
        pipeline.target.read(version=v2 + 7)


def test_keyed_changes_classify_ins_del_upd(pipeline):
    v1, v2 = pipeline.target.versions()
    ch = pipeline.target.changes(v1, v2, keys=["id"])
    got = {(r["_change_type"], r["id"]): r["name"] for r in ch.collect()}
    assert got[("insert", 99)] == "new"
    assert got[("delete", 5)] == "v5"
    assert got[("update_preimage", 3)] == "v3"
    assert got[("update_postimage", 3)] == "v3b"
    assert len(got) == 4  # untouched keys produce no change rows


def test_keyless_changes_are_a_multiset_diff(pipeline):
    v1, v2 = pipeline.target.versions()
    ch = pipeline.target.changes(v1, v2).select("_change_type", "id", "name").collect()
    got = {(r[0], r[1], r[2]) for r in ch}
    assert ("insert", 99, "new") in got and ("insert", 3, "v3b") in got
    assert ("delete", 5, "v5") in got and ("delete", 3, "v3") in got
    assert len(got) == 4


def test_changes_scan_only_touched_buckets(pipeline):
    v1, v2 = pipeline.target.versions()
    ch = pipeline.target.changes(v1, v2, keys=["id"])
    touched = {
        r[0]
        for r in pipeline.spark.createDataFrame([(3,), (5,), (99,)], "id long")
        .select(pipeline.target.bucket_of())
        .collect()
    }
    # Spark's bucketed writer names each file part-*_<bucket id>.c000...
    scanned_buckets = {
        int(re.search(r"_(\d{5})\.", os.path.basename(f)).group(1))
        for f in ch.inputFiles()
    }
    assert scanned_buckets == touched, (scanned_buckets, touched)
    assert len(touched) < 8  # i.e. linked buckets really were pruned


def test_changes_across_schema_evolution(spark, tmp_path):
    t = ParquetTargetTable(spark, str(tmp_path), "evolve")
    t.write(spark.createDataFrame([(1, "a")], ["id", "name"]))
    t.write(spark.createDataFrame([(1, "a", "x")], ["id", "name", "email"]))
    v1, v2 = t.versions()
    got = {r["_change_type"]: (r["id"], r["name"], r["email"]) for r in t.changes(v1, v2, keys=["id"]).collect()}
    assert got == {
        "update_preimage": (1, "a", None),
        "update_postimage": (1, "a", "x"),
    }


def test_cdf_drives_downstream_incremental_aggregate(spark, tmp_path):
    """A consumer maintains a per-name count by applying ONLY the change
    feed between consecutive versions — never re-reading the table — and
    stays equal to a full recompute after every epoch."""
    cfg = CdcPipelineConfig(
        table="agg",
        primary_keys=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        catalog_buckets=4,
    )
    p = CdcPipeline(spark, cfg)
    batches = [
        [envelope(i, f"n{i % 3}", "c", i) for i in range(9)],
        [envelope(1, "n2", "u", 20), envelope(4, None, "d", 21), envelope(50, "n0", "c", 22)],
        [envelope(50, None, "d", 30), envelope(2, "n0", "u", 31)],
    ]
    counts: dict[str, int] = {}
    prev_v = None
    for epoch, evs in enumerate(batches):
        p.run_batch(spark.createDataFrame([tuple(e.values()) for e in evs], RAW_SCHEMA), epoch)
        v = p.target.current_version()
        if prev_v is None:
            for r in p.target.read(version=v).collect():
                counts[r["name"]] = counts.get(r["name"], 0) + 1
        else:
            for r in p.target.changes(prev_v, v, keys=["id"]).collect():
                if r["_change_type"] in ("insert", "update_postimage"):
                    counts[r["name"]] = counts.get(r["name"], 0) + 1
                elif r["_change_type"] in ("delete", "update_preimage"):
                    counts[r["name"]] -= 1
        prev_v = v
        full = {
            r["name"]: r["n"]
            for r in p.target.read().groupBy("name").agg(F.count("*").alias("n")).collect()
        }
        assert {k: v for k, v in counts.items() if v} == full, (epoch, counts, full)
