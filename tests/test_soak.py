"""Streaming soak (round-5, VERDICT r4 #6): 100 micro-batches through the
catalog-bucketed CDC pipeline with a mid-stream schema add (D5) and a
restart replaying recent epochs (M7/T4), asserting the target equals an
independently-folded expected state, version-chain integrity, CDF
consistency across the restart boundary, and a bounded file chain after
vacuum."""

from __future__ import annotations

import glob
import json
import os
import random

from pyspark.sql import types as T

from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

RAW_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("value", T.StringType()),
    ]
)
NARROW = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)
WIDE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("email", T.StringType()),
    ]
)

N_KEYS = 300
BATCH = 12
SCHEMA_ADD_AT = 50  # epochs >= this carry the email column
RESTART_AT = 70     # pipeline B replays epochs RESTART_AT-5 .. RESTART_AT-1


def _batches():
    """Deterministic 100-epoch op stream: (epoch, [(id, op, row_dict, offset)])."""
    rng = random.Random(20260813)
    offset = 0
    out = []
    for epoch in range(100):
        rows = []
        for _ in range(BATCH):
            i = rng.randrange(N_KEYS)
            op = rng.choices(["c", "u", "d"], weights=[4, 4, 1])[0]
            after = None
            if op != "d":
                after = {"id": i, "name": f"n{epoch}_{i}"}
                if epoch >= SCHEMA_ADD_AT:
                    after["email"] = f"e{epoch}_{i}@x"
            rows.append((i, op, after, offset))
            offset += 1
        out.append((epoch, rows))
    return out


def _envelope(op, after, i, offset):
    return (
        "t", 0, offset,
        json.dumps(
            {"before": {"id": i} if op == "d" else None, "after": after,
             "op": op, "ts_ms": offset}
        ),
    )


def _mk_pipe(spark, tmp_path, row_schema):
    return CdcPipeline(
        spark,
        CdcPipelineConfig(
            table="soak",
            primary_keys=["id"],
            row_schema=row_schema,
            target_root=str(tmp_path / "targets"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            catalog_buckets=4,
        ),
    )


def test_cdc_soak_100_epochs_schema_add_restart_vacuum(spark, tmp_path):
    batches = _batches()
    expected: dict[int, dict] = {}  # independently-folded ground truth

    def fold(rows):
        # latest-wins per key within the batch, then apply
        winners: dict[int, tuple] = {}
        for i, op, after, offset in rows:
            if i not in winners or offset > winners[i][2]:
                winners[i] = (op, after, offset)
        for i, (op, after, offset) in winners.items():
            if op == "d":
                expected.pop(i, None)
            else:
                expected[i] = {"email": None, **after, "_off": offset}

    def run(pipe, epoch, rows):
        df = spark.createDataFrame(
            [_envelope(op, after, i, off) for i, op, after, off in rows], RAW_SCHEMA
        )
        pipe.run_batch(df, epoch_id=epoch)

    # generation A: narrow schema, epochs 0-49
    pipe_a = _mk_pipe(spark, tmp_path, NARROW)
    for epoch, rows in batches[:SCHEMA_ADD_AT]:
        run(pipe_a, epoch, rows)
        fold(rows)

    # generation B: the mid-stream schema ADD (D5) — a new pipeline
    # generation decodes the widened envelope; old rows backfill NULL email
    pipe_b = _mk_pipe(spark, tmp_path, WIDE)
    for epoch, rows in batches[SCHEMA_ADD_AT:RESTART_AT]:
        run(pipe_b, epoch, rows)
        fold(rows)
    v_mid = pipe_b.target.current_version()
    mid_state = {i: r["name"] for i, r in expected.items()}

    # generation C: the RESTART — replays the last 5 epochs; the epoch
    # guard must make every replay a no-op (M7/T4)
    pipe_c = _mk_pipe(spark, tmp_path, WIDE)
    v_before_replay = pipe_c.target.current_version()
    for epoch, rows in batches[RESTART_AT - 5 : RESTART_AT]:
        run(pipe_c, epoch, rows)
    assert pipe_c.target.current_version() == v_before_replay, "replays must not commit"

    for epoch, rows in batches[RESTART_AT:]:
        run(pipe_c, epoch, rows)
        fold(rows)

    # --- target == ground truth (values + schema-add semantics) ---------
    got = {r["id"]: r for r in pipe_c.target.read().collect()}
    assert set(got) == set(expected)
    for i, want in expected.items():
        assert got[i]["name"] == want["name"]
        assert got[i]["email"] == want.get("email")
    # email is NULL exactly for rows last written before the schema add
    pre_add = [i for i, w in expected.items() if w.get("email") is None]
    assert pre_add, "soak must retain some pre-schema-add rows"

    # --- version-chain integrity ----------------------------------------
    t = pipe_c.target
    versions = t.versions()
    assert t.current_version() == max(versions)
    assert t.read_metadata().get("last_epoch") == 99

    # --- CDF across the restart boundary --------------------------------
    cdf = t.changes(v_mid, t.current_version(), keys=["id"]).collect()
    by_type: dict[str, set] = {}
    for r in cdf:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    end_state = {i: r["name"] for i, r in expected.items()}
    want_inserts = set(end_state) - set(mid_state)
    want_deletes = set(mid_state) - set(end_state)
    assert by_type.get("insert", set()) == want_inserts
    assert by_type.get("delete", set()) == want_deletes
    # updates: pre/post images pair up, only for keys live in both
    # snapshots, and every key whose name changed is reported
    posts = by_type.get("update_postimage", set())
    pres = by_type.get("update_preimage", set())
    assert posts == pres
    assert posts <= set(mid_state) & set(end_state)
    name_changed = {
        i for i in set(mid_state) & set(end_state) if mid_state[i] != end_state[i]
    }
    assert name_changed <= posts

    # --- vacuum bounds the chain ----------------------------------------
    t.vacuum(keep=2)
    assert len(t.versions()) <= 2
    n_files = len(glob.glob(os.path.join(t.path, f"v={t.current_version()}", "*.parquet")))
    # 4 buckets, each holding exactly the files of its last rewrite epoch
    assert n_files <= 4 * 3, n_files
    # the vacuumed target still reads correctly
    assert {r["id"] for r in t.read().collect()} == set(expected)
