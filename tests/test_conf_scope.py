"""AQE-off work runs on a clone of the caller's session: a pin build or a
delta commit never changes how another query on the caller's session is
planned, and a pin still advertises its hash partitioning."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import functions as F

from tipoca_stream_spark.operators.checkpoint import pin_partitioned
from tipoca_stream_spark.sources.target import BucketedTargetTable

AQE = "spark.sql.adaptive.enabled"


def _is_adaptive(df) -> bool:
    return df._jdf.queryExecution().executedPlan().toString().startswith("AdaptiveSparkPlan")


def test_pins_join_without_exchange_and_leave_the_session_adaptive(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = pin_partitioned(
            spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("x")),
            "k",
            num_partitions=4,
        )
        b = pin_partitioned(
            spark.range(0, 1000, 2).select(F.col("id").alias("k"), F.lit(1).alias("y")),
            "k",
            num_partitions=4,
        )
        joined = a.join(b, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        assert joined.count() == 500
        # the pins belong to the caller's session: later queries on them
        # plan adaptively
        assert _is_adaptive(a.groupBy("x").count())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert spark.conf.get(AQE) == "true"


def test_delta_commit_leaves_other_threads_planning_adaptively(spark, tmp_path):
    t = BucketedTargetTable(spark, str(tmp_path / "t"), "scoped", buckets=4, keys=["id"])
    t.write(spark.range(200).select("id", (F.col("id") * 3).alias("score")))
    marker = str(tmp_path / "inside_write")
    slow_id = 7

    @F.udf("long")
    def hold_open(i, score):
        # the data write's map stage reaches this row: say so, then keep
        # the write running while the other thread plans
        if i == slow_id:
            open(marker, "w").close()
            time.sleep(3)
        return score

    batch = spark.range(slow_id, slow_id + 1).select("id", F.lit(-1).cast("long").alias("score"))
    touched = [r["b"] for r in batch.select(t.bucket_of().alias("b")).collect()]
    delta = (
        t.read()
        .join(batch.select("id"), "id", "left_anti")
        .unionByName(batch)
        .filter(t.bucket_of().isin(touched))
        .select("id", hold_open("id", "score").alias("score"))
    )
    errors = []

    def commit():
        try:
            t.write_bucket_delta(delta, touched)
        except Exception as e:  # surfaced by the main thread
            errors.append(e)

    writer = threading.Thread(target=commit)
    writer.start()
    try:
        deadline = time.monotonic() + 120
        while not os.path.exists(marker) and writer.is_alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        assert os.path.exists(marker), errors
        assert writer.is_alive()
        conf_during = spark.conf.get(AQE)
        adaptive_during = _is_adaptive(spark.range(100).groupBy(F.col("id") % 7).count())
    finally:
        writer.join(timeout=300)
    assert not writer.is_alive()
    assert not errors, errors
    assert conf_during == "true"
    assert adaptive_during
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert len(got) == 200 and got[slow_id] == -1 and got[8] == 24
