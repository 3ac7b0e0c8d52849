"""Zone-map stats on the versioned CDC target (round-5, VERDICT r4 #4):
per-file min/max maintained as part of write/write_bucket_delta — fresh
rows only for touched buckets, carried rows for hard-linked files — and
read_range schedules only overlapping files."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from tipoca_stream_spark.sources.target import BucketedTargetTable, ParquetTargetTable


def _events(spark, n=40_000, start=0):
    # ts strictly increasing with id: a clean range column
    return spark.range(start, start + n).select(
        F.col("id").alias("user_id"),
        (F.lit(1_700_000_000_000) + F.col("id") * 1000).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
    )


def test_plain_target_range_read_prunes(spark, tmp_path):
    t = ParquetTargetTable(
        spark, str(tmp_path), "ev", zone_cols=["ts"], zone_files=32
    )
    t.write(_events(spark))
    n_files = len(glob.glob(str(tmp_path / "ev" / "v=1" / "*.parquet")))
    assert n_files >= 16
    lo, hi = 1_700_000_000_000 + 5_000_000, 1_700_000_000_000 + 6_000_000
    got = t.read_range(lo, hi)
    assert len(set(got.inputFiles())) <= 3, "range read must schedule ~1 file"
    # correctness vs full filtered scan
    want = t.read().filter(F.col("ts").between(lo, hi)).count()
    assert got.count() == want and want == 1001


def test_bucketed_target_range_read_prunes(spark, tmp_path):
    t = BucketedTargetTable(
        spark, str(tmp_path), "bt", buckets=8, keys=["user_id"],
        zone_cols=["ts"], zone_split=4,
    )
    t.write(_events(spark))
    n_files = len(
        [f for f in glob.glob(str(tmp_path / "bt" / "v=1" / "*.parquet"))]
    )
    assert n_files >= 16, n_files  # ~zone_split files per bucket
    lo, hi = 1_700_000_000_000, 1_700_000_000_000 + 2_000_000
    got = t.read_range(lo, hi)
    # a 5%-wide window must NOT schedule the whole table
    assert 0 < len(set(got.inputFiles())) <= n_files // 2
    want = t.read().filter(F.col("ts").between(lo, hi)).count()
    assert got.count() == want and want == 2001


def test_bucket_delta_carries_stats_and_still_prunes(spark, tmp_path):
    t = BucketedTargetTable(
        spark, str(tmp_path), "bt", buckets=8, keys=["user_id"],
        zone_cols=["ts"], zone_split=4,
    )
    t.write(_events(spark))
    # delta: rewrite the buckets of 20 keys (late ts values)
    batch = _events(spark, n=20).withColumn(
        "ts", F.col("ts") + F.lit(50_000_000_000)
    )
    touched = sorted(
        r["b"] for r in batch.select(t.bucket_of().alias("b")).distinct().collect()
    )
    survivors = t.read().join(batch.select("user_id"), "user_id", "left_anti")
    merged = survivors.unionByName(batch)
    delta = merged.filter(t.bucket_of().isin(touched))
    t.write_bucket_delta(delta, touched)

    # stats exist for v2 and cover every v2 file
    v2 = os.path.join(str(tmp_path), "bt", "v=2")
    stats = spark.read.parquet(os.path.join(v2, "_zones"))
    stat_files = {r["file"] for r in stats.select("file").collect()}
    data_files = {
        os.path.basename(f) for f in ParquetTargetTable._version_files(v2)
    }
    assert stat_files == data_files

    # the late-ts window lives only in rewritten-bucket files
    got = t.read_range(1_750_000_000_000, 1_760_000_000_000)
    assert got.count() == 20
    assert len(set(got.inputFiles())) <= len(touched) * 6
    # untouched zone range still correct after the delta
    lo, hi = 1_700_000_000_000 + 30_000_000, 1_700_000_000_000 + 31_000_000
    got2 = t.read_range(lo, hi)
    want2 = t.read().filter(F.col("ts").between(lo, hi)).count()
    assert got2.count() == want2 > 0
    assert len(set(got2.inputFiles())) <= 12


def test_read_range_falls_back_without_stats(spark, tmp_path):
    t = ParquetTargetTable(spark, str(tmp_path), "plain")  # no zone_cols
    t.write(_events(spark, n=1000))
    got = t.read_range(1_700_000_000_000, 1_700_000_100_000, col="ts")
    assert got.count() == 101


def test_cdc_pipeline_zone_cols_end_to_end(spark, tmp_path):
    """zone_cols wired through CdcPipelineConfig: merge commits maintain
    stats; a range read off the merged target prunes."""
    import json as _json

    from pyspark.sql import types as T

    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    row_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    raw_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ]
    )

    def envelope(i, ts, name, offset, op="c"):
        return (
            "t", 0, offset,
            _json.dumps({"before": None, "after": {"id": i, "ts": ts, "name": name},
                         "op": op, "ts_ms": offset}),
        )

    pipe = CdcPipeline(
        spark,
        CdcPipelineConfig(
            table="users", primary_keys=["id"], row_schema=row_schema,
            target_root=str(tmp_path / "targets"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            catalog_buckets=4, zone_cols=["ts"],
        ),
    )
    seed = spark.createDataFrame(
        [envelope(i, 1000 + i, f"u{i}", i) for i in range(2000)], raw_schema
    )
    pipe.run_batch(seed, epoch_id=0)
    delta = spark.createDataFrame(
        [envelope(1, 999_999, "late", 5000, op="u")], raw_schema
    )
    pipe.run_batch(delta, epoch_id=1)
    # the late update moved id=1's ts to 999_999 — only it lives up there
    got = pipe.target.read_range(999_000, 1_000_500)
    assert {r["id"] for r in got.collect()} == {1}
    # the original window no longer contains id=1, but everyone else
    got2 = pipe.target.read_range(900, 1500)
    assert {r["id"] for r in got2.collect()} == set(range(501)) - {1}
    # stats table exists on the delta-committed current version
    zdir = os.path.join(pipe.target.path, f"v={pipe.target.current_version()}", "_zones")
    assert os.path.isdir(zdir)


def test_zero_row_write_leaves_a_schema_carrying_file(spark, tmp_path):
    """A zero-row write (a delete-only epoch that empties a plain target)
    still commits one part file carrying the schema, with or without
    zone_cols, so the emptied version stays readable — versions are flat
    and need no empty-file fallback."""
    for zone_cols in (None, ["ts"]):
        name = f"empty_{bool(zone_cols)}"
        t = ParquetTargetTable(spark, str(tmp_path), name, zone_cols=zone_cols)
        t.write(_events(spark, n=10).limit(0))
        vdir = os.path.join(t.path, f"v={t.current_version()}")
        assert len(ParquetTargetTable._version_files(vdir)) == 1, zone_cols
        got = t.read()
        assert got.count() == 0
        assert got.dtypes == _events(spark, n=10).dtypes


def test_delta_onto_pre_zone_target_stats_full_or_fallback(spark, tmp_path):
    """A delta commit onto a version written BEFORE zone_cols existed must
    not leave partial stats: either every file is statted, and read_range
    stays exact."""
    plain = BucketedTargetTable(
        spark, str(tmp_path), "bt", buckets=4, keys=["user_id"]
    )
    plain.write(_frame_ev(spark, 2000))
    # reopen WITH zone_cols and delta-commit one bucket
    zoned = BucketedTargetTable(
        spark, str(tmp_path), "bt", buckets=4, keys=["user_id"],
        zone_cols=["ts"], zone_split=2,
    )
    batch = _frame_ev(spark, 10).withColumn("ts", F.col("ts") + F.lit(9_000_000_000))
    touched = sorted(
        r["b"] for r in batch.select(zoned.bucket_of().alias("b")).distinct().collect()
    )
    survivors = zoned.read().join(batch.select("user_id"), "user_id", "left_anti")
    delta = survivors.unionByName(batch).filter(zoned.bucket_of().isin(touched))
    zoned.write_bucket_delta(delta, touched)
    # full-range read returns EVERY row (linked files must not be skipped)
    lo, hi = 1_600_000_000_000, 1_800_000_000_000
    got = zoned.read_range(lo, hi)
    want = zoned.read().filter(F.col("ts").between(lo, hi)).count()
    assert got.count() == want == 2000


def _frame_ev(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("user_id"),
        (F.lit(1_700_000_000_000) + F.col("id") * 1000).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
