"""Bucket-delta writes are sized to the cores: a non-zoned delta touching k
buckets writes in min(k, spark.sql.shuffle.partitions) tasks, still one
file per touched bucket, and the new version still plans bucketed. The
zoned (bucket, zone) range layout keeps its touched × zone_split tasks,
because that count sets zone tightness."""

from __future__ import annotations

import contextlib
import io
import os
import random

from pyspark.sql import functions as F

from tipoca_stream_spark.sources.target import _BUCKET_FILE_RE, BucketedTargetTable


def _write_stage_tasks(spark, fn) -> int:
    """Task count of the last stage ``fn`` ran (a write's result stage),
    read from the status store under a job group."""
    sc = spark.sparkContext
    group = f"tasks-{random.getrandbits(64):x}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
    return tracker.getStageInfo(max(stages)).numTasks


def _frame(spark, n, value):
    return spark.range(n).select(
        F.col("id"), (F.col("id") * 7 % 1000).alias("score"), F.lit(value).alias("v")
    )


def test_delta_write_runs_at_most_shuffle_partitions_tasks(spark, tmp_path):
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t = BucketedTargetTable(spark, str(tmp_path), "sized", buckets=32, keys=["id"])
    assert shuffle < 32
    t.write(_frame(spark, 3200, 0.0))
    # a delta rewriting every bucket: 32 touched buckets
    delta = _frame(spark, 3200, 1.0)
    tasks = _write_stage_tasks(spark, lambda: t.write_bucket_delta(delta, list(range(32))))
    assert tasks <= shuffle

    v = t.current_version()
    files = t._bucket_files(v)
    assert sorted(files) == list(range(32))
    for b, fs in files.items():
        assert len(fs) == 1  # each touched bucket landed whole in one task
        m = _BUCKET_FILE_RE.search(os.path.basename(fs[0]))
        assert m is not None and int(m.group(1)) == b
    rows = t.read().collect()
    assert len(rows) == 3200 and {r["v"] for r in rows} == {1.0}

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        t.read().groupBy("id").agg(F.sum("v")).explain()
    assert "Exchange" not in buf.getvalue(), buf.getvalue()


def test_zoned_delta_write_keeps_touched_times_zone_split_tasks(spark, tmp_path):
    t = BucketedTargetTable(
        spark, str(tmp_path), "zsized", buckets=32, keys=["id"], zone_cols=["score"], zone_split=2
    )
    t.write(_frame(spark, 3200, 0.0))
    delta = _frame(spark, 3200, 1.0)
    tasks = _write_stage_tasks(spark, lambda: t.write_bucket_delta(delta, list(range(32))))
    assert tasks == 32 * 2
    assert len(t.read().collect()) == 3200
