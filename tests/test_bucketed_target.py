"""BucketedTargetTable: catalog-registered bucketed CDC target — zero
Exchange on the target side of PK joins, O(batch) bucket-delta commits via
hard links, per-version time travel preserved."""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.sources.target import BucketedTargetTable


def _simple_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()  # simple mode: each node printed once
    return buf.getvalue()


def _mk(spark, tmp_path, buckets=8):
    return BucketedTargetTable(
        spark, str(tmp_path), "bt", buckets=buckets, keys=["user_id"]
    )


def _frame(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).cast("double").alias("value")
    )


def test_pk_join_has_no_exchange_on_target_side(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.write(_frame(spark, 1000))
    batch = _frame(spark, 100)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _simple_plan(t.read().join(batch.withColumnRenamed("value", "v2"), "user_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # exactly ONE Exchange — the non-bucketed batch side; the target scan
    # reports its bucket layout and is never shuffled
    assert plan.count("Exchange") == 1, plan
    assert "Bucketed: true" in plan, plan


def test_pk_groupby_has_no_exchange(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.write(_frame(spark, 1000))
    plan = _simple_plan(t.read().groupBy("user_id").agg(F.sum("value")))
    assert "Exchange" not in plan, plan


def test_bucket_delta_links_untouched_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=8)
    t.write(_frame(spark, 1000))
    # a batch touching a handful of keys → few buckets
    batch = _frame(spark, 10).withColumn("value", F.lit(-1.0))
    touched = sorted(
        r["b"] for r in batch.select(t.bucket_of().alias("b")).distinct().collect()
    )
    assert 0 < len(touched) < 8
    survivors = t.read().join(batch.select("user_id"), "user_id", "left_anti")
    merged = survivors.unionByName(batch)
    # delta frame = all rows of the touched buckets
    delta = merged.filter(t.bucket_of().isin(touched))
    t.write_bucket_delta(delta, touched)

    # correctness: table now holds the merged rows exactly
    got = {r["user_id"]: r["value"] for r in t.read().collect()}
    assert len(got) == 1000
    assert all(got[i] == -1.0 for i in range(10))
    assert all(got[i] == float(i * 2) for i in range(10, 1000))

    # untouched buckets are hard links (same inode), touched are rewrites
    v1, v2 = (t._bucket_files(v) for v in (1, 2))
    for b in range(8):
        if b in touched:
            assert {os.stat(f).st_ino for f in v1[b]}.isdisjoint(
                os.stat(f).st_ino for f in v2[b]
            )
        else:
            assert {os.stat(f).st_ino for f in v1[b]} == {
                os.stat(f).st_ino for f in v2[b]
            }
    # the delta-committed version still plans bucketed
    plan = _simple_plan(t.read().groupBy("user_id").agg(F.sum("value")))
    assert "Exchange" not in plan, plan


def test_reregisters_after_catalog_loss(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.write(_frame(spark, 100))
    spark.sql(f"DROP TABLE {t._table_ident(1)}")  # simulate a fresh session
    df = t.read()
    assert df.count() == 100
    plan = _simple_plan(df.groupBy("user_id").agg(F.sum("value")))
    assert "Exchange" not in plan, plan  # DDL re-registration kept the layout


def test_time_travel_and_metadata(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.write(_frame(spark, 50), metadata={"last_epoch": 0})
    t.write(_frame(spark, 60), metadata={"last_epoch": 1})
    assert t.read(version=1).count() == 50
    assert t.read().count() == 60
    assert t.read_metadata() == {"last_epoch": 1}
    assert t.vacuum(keep=1) == [1]
    assert not spark.catalog.tableExists(t._table_ident(1))


def test_cdc_pipeline_with_catalog_buckets(spark, tmp_path):
    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    row_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    raw_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ]
    )

    def envelope(id_, name, offset, op="c"):
        return {
            "topic": "db.server.users",
            "partition": 0,
            "offset": offset,
            "value": json.dumps(
                {
                    "before": {"id": id_, "name": name} if op == "d" else None,
                    "after": None if op == "d" else {"id": id_, "name": name},
                    "op": op,
                    "ts_ms": offset,
                }
            ),
        }

    pipe = CdcPipeline(
        spark,
        CdcPipelineConfig(
            table="users",
            primary_keys=["id"],
            row_schema=row_schema,
            target_root=str(tmp_path / "targets"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            catalog_buckets=4,
        ),
    )
    # epoch 0: bootstrap (full bucketed write)
    seed = spark.createDataFrame(
        [envelope(i, f"u{i}", i) for i in range(40)], raw_schema
    )
    pipe.run_batch(seed, epoch_id=0)
    assert pipe.target.read().count() == 40

    # epoch 1: steady state — update 2 keys, delete 1 → bucket-delta commit
    delta = spark.createDataFrame(
        [
            envelope(1, "one", 100, op="u"),
            envelope(2, "two", 101, op="u"),
            envelope(3, "x", 102, op="d"),
        ],
        raw_schema,
    )
    pipe.run_batch(delta, epoch_id=1)
    got = {r["id"]: r["name"] for r in pipe.target.read().drop("kafkaoffset").collect()}
    assert len(got) == 39 and 3 not in got
    assert got[1] == "one" and got[2] == "two" and got[5] == "u5"

    # the delta epoch hard-linked at least one untouched bucket
    v1, v2 = (pipe.target._bucket_files(v) for v in (1, 2))
    shared = [
        b
        for b in v1
        if b in v2 and {os.stat(f).st_ino for f in v1[b]} == {os.stat(f).st_ino for f in v2[b]}
    ]
    assert shared, "expected untouched buckets to carry over as hard links"
    # exactly the buckets of the batch's keys were rewritten
    touched = {
        r["b"]
        for r in spark.createDataFrame([(1,), (2,), (3,)], "id long")
        .select(pipe.target.bucket_of().alias("b"))
        .collect()
    }
    assert set(v2) - set(shared) == touched, (sorted(v2), shared, touched)

    # replayed epoch is a no-op (T4 guard rides on target metadata)
    pipe.run_batch(delta, epoch_id=1)
    assert pipe.target.current_version() == 2


def test_same_name_different_roots_do_not_collide(spark, tmp_path):
    """ADVICE r4: the catalog identifier carries a path hash — two targets
    with the same table name under different roots in one session must
    read their own data, not a stale registration's LOCATION."""
    a = BucketedTargetTable(spark, str(tmp_path / "rootA"), "t", buckets=4, keys=["user_id"])
    b = BucketedTargetTable(spark, str(tmp_path / "rootB"), "t", buckets=4, keys=["user_id"])
    a.write(_frame(spark, 10))
    b.write(_frame(spark, 20, start=1000))
    assert a._table_ident(1) != b._table_ident(1)
    assert a.read().count() == 10
    assert b.read().count() == 20
    assert {r["user_id"] for r in b.read().collect()} == set(range(1000, 1020))


def test_empty_version_readable_after_catalog_loss(spark, tmp_path):
    """ADVICE r4: a delete-only epoch that empties the table commits a
    version with zero parquet files; the persisted _schema.json keeps it
    registrable (and readable) in a fresh session / after catalog loss."""
    t = _mk(spark, tmp_path, buckets=4)
    t.write(_frame(spark, 5))
    empty = _frame(spark, 5).limit(0)
    v = t.write(empty)
    # simulate catalog loss: drop every per-version registration
    for ver in (1, v):
        spark.sql(f"DROP TABLE IF EXISTS {t._table_ident(ver)}")
    df = t.read()
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["user_id", "value"]
    # time travel to the non-empty version still works too
    assert t.read(version=1).count() == 5


def test_delete_where_rewrites_only_touched_buckets(spark, tmp_path):
    """Round-7 GDPR path: a predicate delete rewrites ONLY the buckets
    holding matching rows (inode equality on every other bucket's files)
    and the surviving answer equals the NOT-filtered oracle, with SQL
    DELETE null semantics."""
    import os

    t = _mk(spark, tmp_path)
    df = _frame(spark, 400)
    t.write(df)
    v1 = t.current_version()
    before = {
        b: {os.stat(f).st_ino for f in fs}
        for b, fs in t._bucket_files(v1).items()
    }
    # delete three specific keys: they hash to a strict subset of buckets
    victims = [7, 8, 9]
    n = t.delete_where(F.col("user_id").isin(victims))
    assert n == 3
    v2 = t.current_version()
    assert v2 == v1 + 1
    touched = {
        r["b"]
        for r in spark.createDataFrame([(k,) for k in victims], "user_id long")
        .select(t.bucket_of().alias("b"))
        .distinct()
        .collect()
    }
    after = {
        b: {os.stat(f).st_ino for f in fs}
        for b, fs in t._bucket_files(v2).items()
    }
    for b in after:
        if b in touched:
            assert after[b] != before[b], f"touched bucket {b} must rewrite"
        else:
            assert after[b] == before[b], f"untouched bucket {b} must hard-link"
    got = sorted(r["user_id"] for r in t.read().collect())
    assert got == [i for i in range(400) if i not in victims]
    # no-match predicate: no commit at all
    assert t.delete_where(F.col("user_id") == -1) == 0
    assert t.current_version() == v2
    # null-predicate rows survive (SQL DELETE semantics)
    t2 = BucketedTargetTable(spark, str(tmp_path), "btnull", buckets=4, keys=["k"])
    t2.write(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 50.0)], "k long, v double"
        )
    )
    assert t2.delete_where(F.col("v") > 20) == 1  # only k=3; k=2 (NULL) stays
    assert sorted(r["k"] for r in t2.read().collect()) == [1, 2]


def test_delete_where_racing_delete_loses_cas(spark, tmp_path):
    """Two predicate deleters racing: exactly one commit wins; the loser
    raises and its retry applies against the winner's survivors."""
    from tipoca_stream_spark.sources.target import ConcurrentWriteError, ParquetTargetTable

    t = _mk(spark, tmp_path)
    t.write(_frame(spark, 100))
    other = _mk(spark, tmp_path)

    orig = BucketedTargetTable.current_version
    calls = {"n": 0}

    def stale_then_real(self):
        calls["n"] += 1
        if calls["n"] == 1:
            v = orig(self)
            other.delete_where(F.col("user_id") < 10)  # winner commits now
            return v
        return orig(self)

    BucketedTargetTable.current_version = stale_then_real
    try:
        with pytest.raises(ConcurrentWriteError):
            t.delete_where(F.col("user_id") >= 90)
    finally:
        BucketedTargetTable.current_version = orig

    assert sorted(r["user_id"] for r in t.read().collect()) == list(range(10, 100))
    t.delete_where(F.col("user_id") >= 90)
    assert sorted(r["user_id"] for r in t.read().collect()) == list(range(10, 90))


def test_delete_where_refreshes_index_sidecars(spark, tmp_path):
    """The delete rides the normal delta commit, so the text sidecar
    refreshes for touched buckets: a phrase in a deleted doc stops
    matching, others keep matching — index answers exactly as fresh as
    the table."""
    rows = [(i, f"alpha beta doc{i}") for i in range(40)]
    t = BucketedTargetTable(
        spark, str(tmp_path), "btidx", buckets=4, keys=["doc_id"],
        text_col="text", text_id_col="doc_id",
    )
    t.write(spark.createDataFrame(rows, "doc_id long, text string"))
    assert t.phrase_counts(["alpha", "beta"]).count() == 40
    assert t.delete_where(F.col("doc_id") % 4 == 0) == 10
    hits = {r["doc_id"] for r in t.phrase_counts(["alpha", "beta"]).collect()}
    assert hits == {i for i in range(40) if i % 4 != 0}
