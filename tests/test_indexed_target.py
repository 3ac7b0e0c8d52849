"""Round-6 target features: the multi-writer CAS guard and the
delta-maintained index sidecars (Bloom + inverted index) that ride every
BucketedTargetTable commit the way zone-map stats do.

Reference anchors: the loader's per-batch staged merge commits everything
the batch changes in one transaction (load_processor.go:783-801) — here
data, zone stats, Bloom words, and posting lists all land under the same
version-pointer flip; and the loader serializes per-topic loads
(loader_handler.go:272-450) — the CAS makes that safety explicit instead
of conventional."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.sources.target import (
    BucketedTargetTable,
    ConcurrentWriteError,
    ParquetTargetTable,
)

DOCS = [
    (1, 10, "stream merge hash table stream"),
    (2, 11, "hash join build probe"),
    (3, 12, "stream window late data"),
    (4, 13, "table scan filter pushdown"),
    (5, 14, "merge dedupe latest wins"),
    (6, 15, "hash partition shuffle skew"),
    (7, 16, "stream checkpoint replay epoch"),
    (8, 17, "table bucket sort zone"),
    (9, 18, "probe bloom bit word"),
    (10, 19, "postings term sorted file"),
]

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def make_target(spark, root, **kw):
    return BucketedTargetTable(
        spark,
        str(root),
        "docs",
        buckets=4,
        keys=["doc_id"],
        bloom_col="part",
        text_col="text",
        text_id_col="doc_id",
        **kw,
    )


def docs_df(spark, rows=DOCS):
    return spark.createDataFrame(rows, SCHEMA)


def buckets_of(spark, t, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    return sorted(r["b"] for r in df.select(t.bucket_of().alias("b")).distinct().collect())


def apply_delta(spark, t, final_rows, touched_ids):
    """Commit the rows of the buckets containing ``touched_ids`` as a
    bucket-delta (exactly what the CDC pipeline's merge does)."""
    touched = buckets_of(spark, t, touched_ids)
    changed = docs_df(spark, final_rows).filter(t.bucket_of().isin(touched))
    t.write_bucket_delta(changed, touched)
    return touched


# --- CAS multi-writer guard ----------------------------------------------


def test_cas_exactly_one_winner(spark, tmp_path):
    t = ParquetTargetTable(spark, str(tmp_path), "tbl")
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    t.write(df)  # v1
    base = t.current_version()

    # writer A (fresh base) wins
    a = ParquetTargetTable(spark, str(tmp_path), "tbl")
    a.write(df.withColumn("x", F.col("x") + 1), expected_base=base)
    assert t.current_version() == base + 1

    # writer B still holds the stale base: loses cleanly, staged dir removed
    b = ParquetTargetTable(spark, str(tmp_path), "tbl")
    with pytest.raises(ConcurrentWriteError):
        b.write(df.withColumn("x", F.col("x") + 2), expected_base=base)
    assert t.current_version() == base + 1  # pointer not torn
    assert t.versions() == [base, base + 1]  # loser left no orphan dir
    # winner's data intact
    assert t.read().agg(F.sum("x")).collect()[0][0] == sum(i * 2 + 1 for i in range(10))

    # loser's retry from the CURRENT base converges
    b.write(df.withColumn("x", F.col("x") + 2), expected_base=t.current_version())
    assert t.current_version() == base + 2


def test_cas_none_base_means_create(spark, tmp_path):
    t = ParquetTargetTable(spark, str(tmp_path), "tbl2")
    df = spark.range(5)
    t.write(df, expected_base=None)  # "table didn't exist when I started"
    with pytest.raises(ConcurrentWriteError):
        # a second creator racing on the same assumption loses
        ParquetTargetTable(spark, str(tmp_path), "tbl2").write(df, expected_base=None)


def test_cas_on_bucket_delta(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    base = t.current_version()
    touched = buckets_of(spark, t, [1])
    changed = docs_df(spark).filter(t.bucket_of().isin(touched))
    t.write_bucket_delta(changed, touched, expected_base=base)
    with pytest.raises(ConcurrentWriteError):
        t.write_bucket_delta(changed, touched, expected_base=base)  # stale
    assert t.current_version() == base + 1


def test_pipeline_epoch_fails_on_concurrent_commit(spark, tmp_path):
    """A foreign commit landing between a pipeline epoch's read and its
    write fails the epoch loudly; the replay (same epoch id) re-merges
    from the winner's version and converges."""
    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    row_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    cfg = CdcPipelineConfig(
        table="customers",
        primary_keys=["id"],
        row_schema=row_schema,
        target_root=str(tmp_path / "targets"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    p = CdcPipeline(spark, cfg)

    import json

    def envelope(id_, name, op, offset):
        after = {"id": id_, "name": name} if op in ("c", "u") else None
        return (
            "t",
            0,
            offset,
            json.dumps({"before": None, "after": after, "op": op, "ts_ms": offset}),
        )

    raw_schema = "topic string, partition int, offset long, value string"
    raw1 = spark.createDataFrame([envelope(1, "alice", "c", 1)], raw_schema)
    p.run_batch(raw1, epoch_id=0)
    assert p.target.read().count() == 1

    # interleave: a foreign writer commits after epoch 1 captures its base
    foreign = ParquetTargetTable(spark, str(tmp_path / "targets"), "customers")
    real = p._merge_and_commit

    def interleaved(*args, **kwargs):
        foreign.write(foreign.read().withColumn("name", F.upper("name")))
        return real(*args, **kwargs)

    p._merge_and_commit = interleaved
    raw2 = spark.createDataFrame([envelope(2, "bob", "c", 2)], raw_schema)
    with pytest.raises(ConcurrentWriteError):
        p.merge_batch(p.transform(raw2), 1)
    # foreign commit survived untouched; epoch 1 not recorded
    assert p.target.read_metadata()["last_epoch"] == 0
    assert p.target.read().select("name").collect()[0]["name"] == "ALICE"

    # replay of the failed epoch (what checkpoint recovery does) converges
    p._merge_and_commit = real
    p.merge_batch(p.transform(raw2), 1)
    got = {r["name"] for r in p.target.read().select("name").collect()}
    assert got == {"ALICE", "bob"}
    assert p.target.read_metadata()["last_epoch"] == 1


# --- delta-maintained Bloom sidecar --------------------------------------


def test_bloom_point_read_after_deltas_matches_scan(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    # delta 1: docs 1,2 get new part values; delta 2: doc 9 updated
    state1 = [
        (1, 30, "stream merge hash table stream updated"),
        (2, 31, "hash join build probe updated"),
    ] + DOCS[2:]
    apply_delta(spark, t, state1, [1, 2])
    state2 = state1[:8] + [(9, 32, "probe bloom bit word updated")] + state1[9:]
    apply_delta(spark, t, state2, [9])

    for probe in (30, 31, 32, 12, 19, 999):
        got = sorted(r["doc_id"] for r in t.read_point(probe).collect())
        want = sorted(
            r["doc_id"] for r in t.read().filter(F.col("part") == probe).collect()
        )
        assert got == want, probe


def test_bloom_delta_hashes_only_touched_buckets(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    total_files = len(t._version_files(t._vdir(t.current_version())))
    touched = apply_delta(spark, t, DOCS, [1])
    assert t.last_commit_stats["text_buckets_rebuilt"] == len(touched)
    hashed = t.last_commit_stats["bloom_files_hashed"]
    assert 0 < hashed < total_files  # O(batch), not O(table)


def test_bloom_backfills_when_target_predates_index(spark, tmp_path):
    plain = BucketedTargetTable(spark, str(tmp_path), "docs", buckets=4, keys=["doc_id"])
    plain.write(docs_df(spark))
    t = make_target(spark, tmp_path)  # same path, now with index config
    touched = buckets_of(spark, t, [1])
    changed = docs_df(spark).filter(t.bucket_of().isin(touched))
    t.write_bucket_delta(changed, touched)
    # no prior sidecar to carry: every file hashed once, else linked files
    # would be silently skipped by lookups
    v = t.current_version()
    assert t.last_commit_stats["bloom_files_hashed"] == len(t._version_files(t._vdir(v)))
    got = sorted(r["doc_id"] for r in t.read_point(14).collect())
    assert got == [5]


def test_point_read_on_pk_uses_bucket_route(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    rows = t.read_point(3, col="doc_id").collect()
    assert [r["doc_id"] for r in rows] == [3]
    # and the route really read fewer files than the table holds
    b = buckets_of(spark, t, [3])
    v = t.current_version()
    bucket_files = [f for bid in b for f in t._bucket_files(v).get(bid, [])]
    assert len(bucket_files) < len(t._version_files(t._vdir(v)))


# --- delta-maintained inverted-index sidecar ------------------------------


def _scan_bm25(spark, tmp_path, rows, terms, tag):
    """Independent scan-served oracle: a FRESH standalone inverted index
    (sources/invindex.py — same scoring contract, different layout) built
    from the final state."""
    from tipoca_stream_spark.sources.invindex import InvertedIndexTable

    idx = InvertedIndexTable(spark, str(tmp_path / f"oracle_idx_{tag}"))
    idx.build(docs_df(spark, rows), "text", "doc_id")
    return [(r["doc_id"], r["bm25"]) for r in idx.bm25_topk(terms, k=10).collect()]


def test_bm25_index_fresh_after_n_delta_commits(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    terms = ["stream", "hash", "table"]

    # three delta commits: update, update, then an update that removes terms
    states = [
        [(1, 10, "stream stream stream hash")] + DOCS[1:],
        [(1, 10, "stream stream stream hash")]
        + [(2, 11, "table table hash join")]
        + DOCS[2:],
        [(1, 10, "nothing relevant here")]
        + [(2, 11, "table table hash join")]
        + DOCS[2:],
    ]
    touched_ids = [[1], [2], [1]]
    for rows, ids in zip(states, touched_ids):
        apply_delta(spark, t, rows, ids)
        got = [(r["doc_id"], r["bm25"]) for r in t.bm25_topk(terms, k=10).collect()]
        tag = f"{ids[0]}_{len(rows[0][2])}"
        assert got == _scan_bm25(spark, tmp_path, rows, terms, tag)


def test_posting_links_prove_zero_full_rebuilds(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    v1 = t.current_version()
    touched = apply_delta(
        spark, t, [(1, 10, "totally new words appear")] + DOCS[1:], [1]
    )
    v2 = t.current_version()

    def posting_inodes(v):
        tdir = os.path.join(t._vdir(v), "_text")
        out = {}
        for entry in os.listdir(tdir):
            if entry.startswith("b="):
                d = os.path.join(tdir, entry)
                out[entry] = {
                    os.stat(os.path.join(d, f)).st_ino
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                }
        return out

    i1, i2 = posting_inodes(v1), posting_inodes(v2)
    touched_names = {f"b={b}" for b in touched}
    untouched = set(i1) - touched_names
    assert untouched  # the test is vacuous if every bucket was touched
    for name in untouched:
        # identical inodes = hard links = this bucket's postings were NOT
        # rebuilt: the refresh was O(touched buckets)
        assert i2[name] == i1[name], name
    for name in touched_names & set(i2):
        assert i2[name] != i1.get(name, set()), name


def test_delete_only_delta_removes_doc_from_index(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    # doc 10 is the only holder of "postings": delete it via a delta commit
    survivors = DOCS[:9]
    touched = buckets_of(spark, t, [10])
    changed = docs_df(spark, survivors).filter(t.bucket_of().isin(touched))
    t.write_bucket_delta(changed, touched)
    assert t.read().count() == 9
    assert t.bm25_topk(["postings"], k=10).count() == 0
    # and bloom no longer finds its part value
    assert t.read_point(19).count() == 0


def test_sidecars_survive_compaction(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    apply_delta(spark, t, DOCS, [1, 5])
    t.compact()
    got = sorted(r["doc_id"] for r in t.read_point(14).collect())
    assert got == [5]
    assert t.bm25_topk(["stream"], k=10).count() > 0


def test_bloom_params_persisted_with_sidecar(spark, tmp_path):
    """A reader constructed with DIFFERENT bloom params than the writer
    must still find present keys: the probe runs in the bit-space the
    sidecar persists, never the instance config's (review finding: a
    param drift would otherwise be a silent false-negative, worse than
    the zones' forfeit-pruning failure mode)."""
    w = BucketedTargetTable(
        spark, str(tmp_path), "docs", buckets=4, keys=["doc_id"],
        bloom_col="part", bloom_m_bits=1 << 12, bloom_k=3,
        text_col="text", text_id_col="doc_id",
    )
    w.write(docs_df(spark))
    r = make_target(spark, tmp_path)  # defaults: m_bits=1<<16, k=5
    assert sorted(x["doc_id"] for x in r.read_point(14).collect()) == [5]
    # and a delta commit through the differently-configured handle keeps
    # the sidecar in ONE bit-space (sticky params carried forward)
    apply_delta(spark, r, DOCS, [1])
    import json as _json
    import os as _os

    v = r.current_version()
    with open(_os.path.join(r._vdir(v), "_bloom", "_params.json")) as f:
        assert _json.load(f) == {"m_bits": 1 << 12, "k": 3}
    assert sorted(x["doc_id"] for x in r.read_point(14).collect()) == [5]


def test_compaction_loses_cas_race_cleanly(spark, tmp_path):
    """compact() commits CAS against the version it rewrites — a commit
    landing mid-compaction wins and is NOT silently overwritten."""
    t = ParquetTargetTable(spark, str(tmp_path), "tbl3")
    t.write(spark.range(10).withColumn("x", F.col("id")))
    other = ParquetTargetTable(spark, str(tmp_path), "tbl3")

    orig_write = t.write

    def racing_write(df, metadata=None, expected_base=None, **kw):
        # the foreign commit lands after compact() read its base but
        # before its own commit
        other.write(other.read().withColumn("x", F.col("x") + 100))
        return orig_write(df, metadata=metadata, expected_base=expected_base, **kw)

    t.write = racing_write
    with pytest.raises(Exception) as ei:
        t.compact()
    assert "ConcurrentWriteError" in type(ei.value).__name__
    # the foreign commit survived
    assert other.read().agg(F.sum("x")).collect()[0][0] == sum(range(10)) + 1000


def test_stale_claim_only_burns_a_number(spark, tmp_path):
    """A crashed writer's leftover claim marker must not block later
    commits — the next writer takes the next number."""
    import os as _os

    t = ParquetTargetTable(spark, str(tmp_path), "tbl4")
    t.write(spark.range(5))  # v1
    _os.mkdir(t._claim_marker(2))  # simulate a crashed writer holding v2
    v = t.write(spark.range(6))
    assert v == 3  # skipped the claimed number
    assert t.read().count() == 6


def test_phrase_counts_fresh_after_delta_commits(spark, tmp_path):
    """Phrase search off the target's posting sidecar: positions ride the
    same bucket-delta commit as the data, so adjacency answers are fresh
    after updates/deletes with zero rebuild jobs. Oracle = the standalone
    positional index built fresh from the final state."""
    from tipoca_stream_spark.sources.invindex import InvertedIndexTable

    t = make_target(spark, tmp_path)
    t.write(docs_df(spark))
    assert {
        r["doc_id"]: r["n_occurrences"]
        for r in t.phrase_counts(["hash", "table"]).collect()
    } == {1: 1}

    # delta: doc 1 gains a second occurrence, doc 2 gains its first
    final = [
        (1, 10, "hash table stream hash table"),
        (2, 11, "big hash table now"),
    ] + DOCS[2:]
    apply_delta(spark, t, final, [1, 2])

    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in t.phrase_counts(["hash", "table"]).collect()
    }
    oracle = InvertedIndexTable(spark, str(tmp_path / "oracle_pos"))
    oracle.build(docs_df(spark, final), "text", "doc_id", positional=True)
    want = {
        r["doc_id"]: r["n_occurrences"]
        for r in oracle.phrase_counts(["hash", "table"]).collect()
    }
    assert got == want == {1: 2, 2: 1}
    # absent phrase and repeated-term phrase
    assert t.phrase_counts(["table", "absentword"]).count() == 0
    assert {
        r["doc_id"]: r["n_occurrences"]
        for r in t.phrase_counts(["hash", "table", "stream"]).collect()
    } == {1: 1}
