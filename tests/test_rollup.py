"""Continuous rollup: the incrementally-merged windowed aggregate must
equal the one-shot batch aggregate over everything ingested so far —
including arbitrarily late events — and replaying an epoch must be a
no-op (guard commits atomically with the version flip)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tipoca_stream_spark.sources.target import BucketedTargetTable
from tipoca_stream_spark.streaming.rollup import ContinuousRollup


def ev(minute, second, etype, value):
    return (datetime(2026, 1, 1, 12, minute, second), etype, float(value))


SCHEMA = "ts timestamp, event_type string, value double"

BATCH1 = [ev(0, 5, "view", 1.5), ev(0, 40, "view", 2.0), ev(1, 10, "click", 3.25)]
BATCH2 = [ev(1, 30, "click", 0.75), ev(2, 0, "view", 4.0)]
# batch 3 is LATE: lands in minute-0 and minute-1 buckets already merged
BATCH3 = [ev(0, 59, "view", 10.0), ev(1, 59, "buy", 7.5)]


def bucketed(spark, tmp_path, name="rollup"):
    return BucketedTargetTable(spark, str(tmp_path), name, buckets=4, keys=["bucket_start"])


@pytest.fixture()
def rollup(spark, tmp_path):
    return ContinuousRollup(spark, bucketed(spark, tmp_path))


def batch_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def oracle(spark, *batches):
    """One-shot aggregate over the union of all batches."""
    all_rows = [r for b in batches for r in b]
    return (
        batch_df(spark, all_rows)
        .groupBy(F.window("ts", "1 minute").start.alias("bucket_start"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_v"))
    )


def as_set(df):
    return {tuple(r) for r in df.select("bucket_start", "event_type", "n", "sum_v").collect()}


def test_incremental_equals_batch_recompute(spark, rollup):
    for i, rows in enumerate([BATCH1, BATCH2]):
        rollup.run_batch(batch_df(spark, rows), epoch_id=i)
    assert as_set(rollup.read()) == as_set(oracle(spark, BATCH1, BATCH2))


def test_late_events_update_closed_buckets(spark, rollup):
    for i, rows in enumerate([BATCH1, BATCH2, BATCH3]):
        rollup.run_batch(batch_df(spark, rows), epoch_id=i)
    # exact equality including the late-updated minute-0/minute-1 buckets
    assert as_set(rollup.read()) == as_set(oracle(spark, BATCH1, BATCH2, BATCH3))
    row = {
        (r["bucket_start"].minute, r["event_type"]): (r["n"], float(r["sum_v"]))
        for r in rollup.read().collect()
    }
    assert row[(0, "view")] == (3, 13.5)  # 1.5 + 2.0 + late 10.0
    assert row[(1, "buy")] == (1, 7.5)  # late event created a new key in an old bucket


def test_epoch_replay_is_noop(spark, rollup):
    rollup.run_batch(batch_df(spark, BATCH1), epoch_id=0)
    before = as_set(rollup.read())
    v_before = rollup.target.current_version()
    rollup.run_batch(batch_df(spark, BATCH1), epoch_id=0)  # redelivery
    assert as_set(rollup.read()) == before
    assert rollup.target.current_version() == v_before
    rollup.run_batch(batch_df(spark, []), epoch_id=1)  # empty: nothing to commit
    assert rollup.target.current_version() == v_before


def test_restart_resumes_from_committed_state(spark, tmp_path):
    target = bucketed(spark, tmp_path)
    ContinuousRollup(spark, target).run_batch(batch_df(spark, BATCH1), epoch_id=0)
    # a fresh instance (process restart) sees the epoch guard + data
    r2 = ContinuousRollup(spark, target)
    r2.run_batch(batch_df(spark, BATCH1), epoch_id=0)  # replay skipped
    r2.run_batch(batch_df(spark, BATCH2), epoch_id=1)
    assert as_set(r2.read()) == as_set(oracle(spark, BATCH1, BATCH2))


def test_streaming_file_source_end_to_end(spark, tmp_path):
    import json
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    # two files with distinct mtimes → two micro-batches under availableNow
    for i, rows in enumerate([BATCH1, BATCH2]):
        with open(src / f"b{i}.json", "w") as f:
            for ts, et, v in rows:
                f.write(json.dumps({"ts": ts.isoformat(), "event_type": et, "value": v}) + "\n")
        os.utime(src / f"b{i}.json", (time.time() + i, time.time() + i))
    r = ContinuousRollup(spark, bucketed(spark, tmp_path))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = r.start(stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert as_set(r.read()) == as_set(oracle(spark, BATCH1, BATCH2))


def test_merge_is_batch_order_invariant(spark, tmp_path):
    """The rollup's contract: any partition of the event stream into
    micro-batches, in any arrival order (late data included), yields the
    same table — merge is commutative/associative by construction."""
    import itertools

    results = []
    for j, perm in enumerate(itertools.permutations([BATCH1, BATCH2, BATCH3])):
        r = ContinuousRollup(spark, bucketed(spark, tmp_path, f"rollup{j}"))
        for i, rows in enumerate(perm):
            r.run_batch(batch_df(spark, rows), epoch_id=i)
        results.append(as_set(r.read()))
    assert all(s == results[0] for s in results[1:])


def test_quantize_roundtrip_error_bounded(spark):
    """int8 symmetric quantization: dequantized values are within half a
    quantization step of the original (|x - q/scale| <= 0.5/scale)."""
    from tipoca_stream_spark.operators.similarity import quantize_int8
    from tipoca_stream_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = quantize_int8(emb)
    joined = emb.join(q, "vec_id").select(
        F.max(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "qvec",
                    lambda x, d: F.abs(x.cast("double") - d / F.col("scale")),
                ),
                F.lit(0.0),
                lambda acc, e: F.greatest(acc, e),
            )
            * F.col("scale")
        ).alias("max_scaled_err")
    )
    err = joined.collect()[0]["max_scaled_err"]
    assert err <= 0.5 + 1e-9, err


def test_partitioned_by_day_prunes_layout(spark, tmp_path):
    """Every version is one flat directory of bucket files (no hive
    directories), and an equality read on the bucket key schedules only
    the files of the bucket its value hashes to."""
    target = bucketed(spark, tmp_path)
    r = ContinuousRollup(spark, target)
    r.run_batch(batch_df(spark, BATCH1), epoch_id=0)
    r.run_batch(batch_df(spark, BATCH2), epoch_id=1)
    v = target.current_version()
    vdir = os.path.join(target.path, f"v={v}")
    assert not [d for d in os.listdir(vdir) if "=" in d], "expected a flat version"
    by_bucket = target._bucket_files(v)
    assert len(by_bucket) > 1, "the windows must spread over several buckets"
    minute0 = datetime(2026, 1, 1, 12, 0, 0)
    routed = target.route_read(eq=("bucket_start", minute0))
    assert routed.route == "bucket"
    assert 0 < routed.n_files < routed.total_files
    want = oracle(spark, BATCH1, BATCH2)
    assert as_set(routed.df) == as_set(want.filter(F.col("bucket_start") == minute0))
    assert as_set(r.read()) == as_set(want)


def test_partition_delta_links_untouched_days(spark, tmp_path):
    """Steady-state commits are REAL deltas: a late batch touching only
    day 2 rewrites only the bucket its window hashes to, and the buckets
    holding day 1's windows are hard-linked from the previous version
    (same inode), not rewritten — write cost O(touched buckets)."""
    day1 = [ev(m, 5, "view", m) for m in range(8)]  # eight windows on 2026-01-01
    day2 = [(datetime(2026, 1, 2, 9, 0, 0), "view", 2.0)]
    day2_late = [(datetime(2026, 1, 2, 9, 0, 30), "click", 3.0)]
    target = bucketed(spark, tmp_path)
    r = ContinuousRollup(spark, target)
    r.run_batch(batch_df(spark, day1), 0)
    r.run_batch(batch_df(spark, day2), 1)
    v2 = target.current_version()
    r.run_batch(batch_df(spark, day2_late), 2)  # touches ONLY day 2's window
    v3 = target.current_version()
    touched = {
        row["b"]
        for row in r.partials(batch_df(spark, day2_late))
        .select(target.bucket_of().alias("b"))
        .collect()
    }

    def inodes(v):
        return {
            b: {os.stat(f).st_ino for f in files} for b, files in target._bucket_files(v).items()
        }

    i2, i3 = inodes(v2), inodes(v3)
    assert len(touched) == 1 and set(i2) - touched, "the late batch must leave a bucket untouched"
    for b in i2:
        if b in touched:
            assert not i2[b] & i3[b], f"touched bucket {b} was not rewritten"
        else:
            assert i2[b] == i3[b], f"untouched bucket {b} was rewritten"
    assert as_set(r.read()) == as_set(oracle(spark, day1, day2, day2_late))


def test_partition_delta_survives_vacuum(spark, tmp_path):
    """Removing old versions only unlinks names — the linked files live on
    through the newer version's directory entries."""
    d1 = [ev(0, 5, "view", 1.0)]
    d2 = [(datetime(2026, 1, 2, 9, 0, 0), "view", 2.0)]
    target = bucketed(spark, tmp_path)
    r = ContinuousRollup(spark, target)
    r.run_batch(batch_df(spark, d1), 0)
    r.run_batch(batch_df(spark, d2), 1)
    target.vacuum(keep=1)
    assert as_set(r.read()) == as_set(oracle(spark, d1, d2))


def test_target_keys_must_be_group_columns(spark, tmp_path):
    """A target bucketed on a column outside (bucket_start, keys) cannot
    host the rollup: the partials carry only the group columns."""
    target = BucketedTargetTable(spark, str(tmp_path), "rollup", buckets=4, keys=["ts"])
    with pytest.raises(ValueError, match="subset of the group key"):
        ContinuousRollup(spark, target)
    # any subset of the group key is accepted
    both = BucketedTargetTable(
        spark, str(tmp_path), "r2", buckets=4, keys=["bucket_start", "event_type"]
    )
    ContinuousRollup(spark, both)
