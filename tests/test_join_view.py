"""MaterializedJoin: after every batch the maintained view must equal the
from-scratch join of the two latest-wins tables — including updates that
MOVE a row across join keys (both old and new key are in the delta set,
as a CDC before/after image provides)."""

from __future__ import annotations

import random

import pytest

from tipoca_stream_spark.sources.target import BucketedTargetTable, ParquetTargetTable
from tipoca_stream_spark.streaming.join_view import MaterializedJoin

CUST_SCHEMA = "cust_id long, name string"
ORD_SCHEMA = "order_id long, cust_id long, total double"


def write_state(spark, target, rows, schema):
    target.write(spark.createDataFrame(rows, schema))


def view_table(spark, root, name="cust_orders", buckets=4):
    return BucketedTargetTable(spark, str(root), name, buckets=buckets, keys=["cust_id"])


def make_view(spark, tmp_path):
    left = ParquetTargetTable(spark, str(tmp_path), "customers")
    right = ParquetTargetTable(spark, str(tmp_path), "orders")
    return MaterializedJoin(spark, view_table(spark, tmp_path), left, right, "cust_id")


def as_set(df):
    return {tuple(r) for r in df.collect()}


def refresh_and_check(mj, spark, keys, epoch, key_schema="cust_id long"):
    mj.refresh(spark.createDataFrame([(k,) for k in keys], key_schema), epoch)
    got = as_set(mj.view.read().select("cust_id", "name", "order_id", "total"))
    exp = as_set(mj.full_join().select("cust_id", "name", "order_id", "total"))
    assert got == exp, f"epoch {epoch}: view diverged"


def test_upserts_deletes_and_key_moves(spark, tmp_path):
    mj = make_view(spark, tmp_path)
    # bootstrap
    write_state(spark, mj.left, [(1, "ann"), (2, "bob")], CUST_SCHEMA)
    write_state(spark, mj.right, [(10, 1, 5.0), (11, 2, 7.0)], ORD_SCHEMA)
    refresh_and_check(mj, spark, [1, 2], epoch=0)

    # batch 1: new customer 3, order 11 MOVES from cust 2 → 3, order 12 added
    write_state(spark, mj.left, [(1, "ann"), (2, "bob"), (3, "cay")], CUST_SCHEMA)
    write_state(spark, mj.right, [(10, 1, 5.0), (11, 3, 7.0), (12, 1, 9.0)], ORD_SCHEMA)
    refresh_and_check(mj, spark, [1, 2, 3], epoch=1)  # old AND new key of the move

    # batch 2: delete customer 1 (orders 10/12 orphaned → drop from inner join)
    write_state(spark, mj.left, [(2, "bob"), (3, "cay")], CUST_SCHEMA)
    refresh_and_check(mj, spark, [1], epoch=2)


def test_randomized_sequences_match_full_join(spark, tmp_path):
    rng = random.Random(7)
    cust = {i: f"c{i}" for i in range(5)}
    orders = {}
    mj = make_view(spark, tmp_path)
    write_state(spark, mj.left, list(cust.items()), CUST_SCHEMA)
    write_state(spark, mj.right, [(0, 0, 1.0)], ORD_SCHEMA)
    orders[0] = (0, 1.0)
    refresh_and_check(mj, spark, [0], epoch=0)
    next_oid = 1
    for epoch in range(1, 6):
        touched = set()
        for _ in range(rng.randint(1, 4)):
            action = rng.choice(["add", "move", "del", "cust_del", "cust_add"])
            if action == "add":
                k = rng.randrange(5)
                orders[next_oid] = (k, rng.random())
                touched.add(k)
                next_oid += 1
            elif action == "move" and orders:
                oid = rng.choice(list(orders))
                old_k, v = orders[oid]
                new_k = rng.randrange(5)
                orders[oid] = (new_k, v)
                touched |= {old_k, new_k}
            elif action == "del" and orders:
                oid = rng.choice(list(orders))
                touched.add(orders.pop(oid)[0])
            elif action == "cust_del" and cust:
                k = rng.choice(list(cust))
                del cust[k]
                touched.add(k)
            else:
                k = rng.randrange(5)
                cust[k] = f"c{k}v{epoch}"
                touched.add(k)
        write_state(spark, mj.left, list(cust.items()) or [(99, "zz")], CUST_SCHEMA)
        write_state(
            spark, mj.right,
            [(o, k, v) for o, (k, v) in orders.items()] or [(98, 99, 0.0)], ORD_SCHEMA,
        )
        touched |= {99, 98}
        refresh_and_check(mj, spark, sorted(touched), epoch=epoch)


def test_epoch_replay_is_noop(spark, tmp_path):
    mj = make_view(spark, tmp_path)
    write_state(spark, mj.left, [(1, "ann")], CUST_SCHEMA)
    write_state(spark, mj.right, [(10, 1, 5.0)], ORD_SCHEMA)
    refresh_and_check(mj, spark, [1], epoch=0)
    v = mj.view.current_version()
    # left changes BUT the epoch is a replay → must not refresh
    write_state(spark, mj.left, [(1, "ann2")], CUST_SCHEMA)
    mj.refresh(spark.createDataFrame([(1,)], "cust_id long"), epoch_id=0)
    assert mj.view.current_version() == v
    mj.refresh(spark.createDataFrame([], "cust_id long"), epoch_id=1)  # no keys: no commit
    assert mj.view.current_version() == v
    refresh_and_check(mj, spark, [1], epoch=1)  # real refresh catches up


def test_composes_with_cdc_pipeline_batches(spark, tmp_path):
    """End-to-end composition: two CdcPipeline merges land CDC batches,
    then the join view refreshes from each batch's key set — the view
    tracks customers ⋈ orders through creates, updates, and deletes."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    cust_schema = T.StructType(
        [T.StructField("cust_id", T.LongType()), T.StructField("name", T.StringType())]
    )
    ord_schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("cust_id", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def envelope(topic, before, after, offset):
        return (
            topic,
            0,
            offset,
            json.dumps(
                {"before": before, "after": after,
                 "op": "d" if after is None else ("c" if before is None else "u"),
                 "ts_ms": offset}
            ),
        )

    raw_schema = "topic string, partition int, offset long, value string"

    def run(pipeline, events):
        df = spark.createDataFrame(events, raw_schema)
        epoch = run.epochs.setdefault(pipeline.config.table, 0)
        pipeline.run_batch(df, epoch_id=epoch)
        run.epochs[pipeline.config.table] = epoch + 1

    run.epochs = {}

    root = str(tmp_path / "targets")
    cp = CdcPipeline(
        spark,
        CdcPipelineConfig(
            table="customers", primary_keys=["cust_id"], row_schema=cust_schema,
            target_root=root, checkpoint_dir=str(tmp_path / "ck1"), store_offsets=False,
        ),
    )
    op = CdcPipeline(
        spark,
        CdcPipelineConfig(
            table="orders", primary_keys=["order_id"], row_schema=ord_schema,
            target_root=root, checkpoint_dir=str(tmp_path / "ck2"), store_offsets=False,
        ),
    )
    mj = MaterializedJoin(spark, view_table(spark, root), cp.target, op.target, "cust_id")

    # batch 1: two customers, two orders
    run(cp, [envelope("t.c", None, {"cust_id": 1, "name": "ann"}, 1),
             envelope("t.c", None, {"cust_id": 2, "name": "bob"}, 2)])
    run(op, [envelope("t.o", None, {"order_id": 10, "cust_id": 1, "total": 5.0}, 1),
             envelope("t.o", None, {"order_id": 11, "cust_id": 2, "total": 7.0}, 2)])
    mj.refresh(spark.createDataFrame([(1,), (2,)], "cust_id long"), 0)
    assert as_set(mj.view.read().select("cust_id", "order_id")) == {(1, 10), (2, 11)}

    # batch 2: order 11 moves to customer 1; customer 2 deleted
    run(op, [envelope("t.o", {"order_id": 11, "cust_id": 2, "total": 7.0},
                      {"order_id": 11, "cust_id": 1, "total": 7.0}, 3)])
    run(cp, [envelope("t.c", {"cust_id": 2, "name": "bob"}, None, 3)])
    mj.refresh(spark.createDataFrame([(1,), (2,)], "cust_id long"), 1)
    got = as_set(mj.view.read().select("cust_id", "order_id"))
    exp = as_set(mj.full_join().select("cust_id", "order_id"))
    assert got == exp == {(1, 10), (1, 11)}


def test_bucketed_view_delta_commit(spark, tmp_path):
    """A refresh rebuilds only the touched view buckets and hard-links
    the rest — and still equals the from-scratch join."""
    import os

    left = ParquetTargetTable(spark, str(tmp_path), "cust_b")
    right = ParquetTargetTable(spark, str(tmp_path), "ord_b")
    view = view_table(spark, tmp_path, "view_b", buckets=8)
    mj = MaterializedJoin(spark, view, left, right, "cust_id")
    cust = [(k, f"c{k}") for k in range(20)]
    orders = [(100 + k, k, float(k)) for k in range(20)]
    write_state(spark, left, cust, CUST_SCHEMA)
    write_state(spark, right, orders, ORD_SCHEMA)
    mj.refresh(spark.createDataFrame([(k,) for k in range(20)], "cust_id long"), 0)
    v1 = view.current_version()

    # touch ONE key: its bucket rewrites, others must link (same inodes)
    write_state(spark, right, orders + [(999, 7, 7.5)], ORD_SCHEMA)
    mj.refresh(spark.createDataFrame([(7,)], "cust_id long"), 1)
    v2 = view.current_version()

    def inodes(v):
        return {b: {os.stat(f).st_ino for f in fs} for b, fs in view._bucket_files(v).items()}

    i1, i2 = inodes(v1), inodes(v2)
    linked = {b for b in i2 if i2[b] == i1.get(b)}
    rewritten = set(i2) - linked
    assert linked, "no bucket files were carried over as links"
    assert len(rewritten) == 1, f"expected 1 rebuilt bucket, got {rewritten}"
    got = as_set(mj.read().select("cust_id", "name", "order_id", "total"))
    exp = as_set(mj.full_join().select("cust_id", "name", "order_id", "total"))
    assert got == exp


def test_int_delta_keys_rebuild_the_right_buckets(spark, tmp_path):
    """Delta keys arrive as ``int`` against ``bigint`` tables. Spark's
    hash of an int differs from the hash of the same value as a bigint,
    so the keys must take the view's key type before they are bucketed —
    otherwise the refresh rebuilds the wrong buckets and the view goes
    stale."""
    mj = make_view(spark, tmp_path)
    cust = [(k, f"c{k}") for k in range(12)]
    write_state(spark, mj.left, cust, CUST_SCHEMA)
    write_state(spark, mj.right, [(100 + k, k, float(k)) for k in range(12)], ORD_SCHEMA)
    refresh_and_check(mj, spark, range(12), 0, key_schema="cust_id int")
    # rename every customer: each key's rows change, whatever its bucket
    write_state(spark, mj.left, [(k, f"{n}v2") for k, n in cust], CUST_SCHEMA)
    refresh_and_check(mj, spark, range(12), 1, key_schema="cust_id int")


def test_view_must_be_bucketed_on_the_join_key(spark, tmp_path):
    left = ParquetTargetTable(spark, str(tmp_path), "customers")
    right = ParquetTargetTable(spark, str(tmp_path), "orders")
    view = BucketedTargetTable(spark, str(tmp_path), "v", buckets=4, keys=["order_id"])
    with pytest.raises(ValueError, match="bucketed on"):
        MaterializedJoin(spark, view, left, right, "cust_id")
