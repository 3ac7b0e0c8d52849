"""Index-aware read routing (VERDICT r5 worklist #5): route_read picks
bloom/bucket/zones/inverted-index/scan from the predicate shape and the
CURRENT version's committed sidecars, proves its pruning in the returned
file counts, and never changes an answer (every index path keeps its
residual filter; sidecars commit atomically with the data, so a present
sidecar is by construction fresh)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.sources.target import BucketedTargetTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("part", T.IntegerType()),
        T.StructField("ts", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def target(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("routed")
    rows = [
        (i, 100 + i, 1000 + i * 10, f"word{i % 7} stream common token{i % 3}")
        for i in range(200)
    ]
    t = BucketedTargetTable(
        spark,
        str(root),
        "routed",
        buckets=8,
        keys=["doc_id"],
        zone_cols=["ts"],
        zone_split=2,
        bloom_col="part",
        text_col="text",
        text_id_col="doc_id",
    )
    t.write(spark.createDataFrame(rows, SCHEMA))
    return t


def test_eq_on_bloom_col_routes_bloom_and_prunes(target):
    r = target.route_read(eq=("part", 150))
    assert r.route == "bloom"
    assert 0 < r.n_files < r.total_files
    assert [row["doc_id"] for row in r.df.collect()] == [50]


def test_eq_on_pk_routes_bucket_and_prunes(target):
    r = target.route_read(eq=("doc_id", 7))
    assert r.route == "bucket"
    assert 0 < r.n_files < r.total_files
    assert [row["part"] for row in r.df.collect()] == [107]


def test_eq_on_unindexed_col_falls_back_to_scan(target):
    r = target.route_read(eq=("text", "word1 stream common token1"))
    assert r.route == "scan"
    assert r.n_files == r.total_files
    assert r.df.count() > 0


def test_between_on_zone_col_routes_zones_and_prunes(target):
    r = target.route_read(between=("ts", 1100, 1200))
    assert r.route == "zones"
    assert 0 < r.n_files < r.total_files
    want = sorted(range(10, 21))
    assert sorted(row["doc_id"] for row in r.df.collect()) == want


def test_between_on_unzoned_col_falls_back_to_scan(target):
    r = target.route_read(between=("part", 110, 120))
    assert r.route == "scan"
    assert r.df.count() == 11


def test_terms_route_inverted_index(target):
    r = target.route_read(terms=["word1", "token2"], k=5)
    assert r.route == "inverted_index"
    assert r.df.count() == 5


def test_terms_scan_fallback_same_answer(spark, tmp_path, target):
    """Strip the sidecar (simulating a target written before text_col was
    configured) and assert the scan route reproduces the index route's
    scores exactly — routing must never change an answer."""
    idx = target.route_read(terms=["word1", "token2"], k=5)
    bare = BucketedTargetTable(
        spark, str(tmp_path), "bare", buckets=8, keys=["doc_id"],
        text_col="text", text_id_col="doc_id",
    )
    # same data, written WITHOUT index sidecars (text_col removed for write)
    plain = BucketedTargetTable(spark, str(tmp_path), "bare", buckets=8, keys=["doc_id"])
    plain.write(target.read().select("doc_id", "part", "ts", "text"))
    scan = bare.route_read(terms=["word1", "token2"], k=5)
    assert scan.route == "scan"
    assert [(r["doc_id"], r["bm25"]) for r in scan.df.collect()] == [
        (r["doc_id"], r["bm25"]) for r in idx.df.collect()
    ]


def test_absent_point_value_routes_bloom_zero_files(target):
    r = target.route_read(eq=("part", 99999))
    assert r.route == "bloom"
    assert r.df.count() == 0


def test_exactly_one_predicate_required(target):
    with pytest.raises(ValueError):
        target.route_read()
    with pytest.raises(ValueError):
        target.route_read(eq=("part", 1), terms=["x"])
    with pytest.raises(ValueError, match="at least one column range"):
        target.route_read(box={})


def test_composite_bloom_plus_zones_intersects(target):
    """VERDICT r6 worklist #3: ``part = x AND ts BETWEEN a AND b`` must
    intersect the Bloom candidate set with the zone candidate set — no
    class forfeits because another is present — and answer exactly like
    the filtered scan."""
    r = target.route_read(eq=("part", 150), between=("ts", 1400, 1600))
    assert r.route == "bloom+zones"
    bloom_only = target.route_read(eq=("part", 150))
    zones_only = target.route_read(between=("ts", 1400, 1600))
    assert r.n_files <= min(bloom_only.n_files, zones_only.n_files)
    assert 0 < r.n_files < r.total_files
    # part=150 ↔ doc 50 ↔ ts=1500, inside the range
    assert [row["doc_id"] for row in r.df.collect()] == [50]
    # same predicate, disjoint range: files may qualify, rows must not
    miss = target.route_read(eq=("part", 150), between=("ts", 3000, 4000))
    assert miss.route in ("bloom+zones", "bloom", "zones")
    assert miss.df.count() == 0


def test_composite_bucket_plus_zones_intersects(target):
    """Point-in-range on the PRIMARY KEY: bucket placement ∩ zone range."""
    r = target.route_read(eq=("doc_id", 7), between=("ts", 1000, 1200))
    assert r.route == "bucket+zones"
    assert r.n_files <= target.route_read(eq=("doc_id", 7)).n_files
    assert r.n_files <= target.route_read(between=("ts", 1000, 1200)).n_files
    assert [row["part"] for row in r.df.collect()] == [107]


def test_composite_unindexed_class_keeps_other_classes_pruning(target):
    """An eq on a column no index serves contributes only its residual
    filter; the between's zone pruning still applies."""
    r = target.route_read(
        eq=("text", "word1 stream common token1"), between=("ts", 1100, 1200)
    )
    assert r.route == "zones"
    assert 0 < r.n_files < r.total_files
    got = sorted(row["doc_id"] for row in r.df.collect())
    assert got == [i for i in range(10, 21) if i % 7 == 1 and i % 3 == 1]


def test_composite_eq_plus_box(spark, tmp_path_factory):
    """eq (bloom) composes with a multi-column box the same way."""
    root = tmp_path_factory.mktemp("eqbox")
    rows = [(i, 100 + i, 1000 + i * 10, f"w{i % 5}") for i in range(300)]
    t = BucketedTargetTable(
        spark, str(root), "eqbox", buckets=4, keys=["doc_id"],
        zone_cols=["ts", "part"], zone_split=2, bloom_col="part",
    )
    t.write(spark.createDataFrame(rows, SCHEMA))
    r = t.route_read(eq=("part", 160), box={"ts": (1500, 2000), "part": (150, 180)})
    assert r.route == "bloom+zones"
    assert r.n_files <= t.route_read(box={"ts": (1500, 2000), "part": (150, 180)}).n_files
    assert [row["doc_id"] for row in r.df.collect()] == [60]


def test_routes_agree_after_delta_commit(spark, target):
    """After a bucket-delta commit the router serves the NEW data on every
    path — index freshness is the commit, not a refresh job."""
    new_rows = [(3, 777, 9999, "freshword stream")]
    touched = sorted(
        r["b"]
        for r in spark.createDataFrame([(3,)], "doc_id long")
        .select(target.bucket_of().alias("b"))
        .collect()
    )
    changed = (
        target.read()
        .filter(target.bucket_of().isin(touched) & (F.col("doc_id") != 3))
        .unionByName(spark.createDataFrame(new_rows, SCHEMA))
    )
    target.write_bucket_delta(changed, touched)
    assert [r["doc_id"] for r in target.route_read(eq=("part", 777)).df.collect()] == [3]
    assert target.route_read(eq=("part", 103)).df.count() == 0  # old value gone
    hits = target.route_read(terms=["freshword"], k=3)
    assert hits.route == "inverted_index"
    assert [r["doc_id"] for r in hits.df.collect()] == [3]


def test_box_route_intersects_zone_candidates(spark, tmp_path_factory):
    """Conjunctive two-column range: the box route scans only files
    overlapping BOTH ranges (intersection of per-column zone candidates)
    and matches the filtered-scan answer exactly."""
    root = tmp_path_factory.mktemp("boxed")
    # ts and event_id correlate (both increase with i), so each column's
    # zones prune meaningfully on the (bucket, ts)-range layout
    rows = [(i, 100 + i, 1000 + i * 10, f"w{i % 5}") for i in range(300)]
    t = BucketedTargetTable(
        spark, str(root), "boxed", buckets=4, keys=["doc_id"],
        zone_cols=["ts", "part"], zone_split=2,
    )
    t.write(spark.createDataFrame(rows, SCHEMA))
    r = t.route_read(box={"ts": (1500, 2000), "part": (150, 180)})
    assert r.route == "zones"
    assert 0 < r.n_files < r.total_files
    want = [i for i in range(300) if 1500 <= 1000 + i * 10 <= 2000 and 150 <= 100 + i <= 180]
    assert sorted(row["doc_id"] for row in r.df.collect()) == want

    # untracked column in the box: forfeits pruning, never the answer
    s = t.route_read(box={"ts": (1500, 2000), "doc_id": (50, 80)})
    assert s.route == "scan"
    assert sorted(row["doc_id"] for row in s.df.collect()) == [
        i for i in range(50, 81) if 1500 <= 1000 + i * 10 <= 2000
    ]


def test_reads_pin_the_version_they_looked_up(spark, tmp_path):
    """A commit that lands right after a read looks up ``_CURRENT`` must
    not reach its answer: every index lookup (Bloom, zones, box) is pinned
    to the looked-up version, so the rows are exactly that version's —
    never the next version's files under the old version's base path."""
    t = BucketedTargetTable(
        spark, str(tmp_path), "pinned", buckets=4, keys=["doc_id"],
        zone_cols=["ts"], zone_split=2, bloom_col="part",
    )
    # each commit shifts every row's part and ts, so consecutive versions
    # answer every predicate below differently
    def rows(shift):
        return [(i, 100 + i + shift, 1000 + i * 10 + shift, "t") for i in range(200)]

    t.write(spark.createDataFrame(rows(0), SCHEMA))
    committed = {t.current_version(): rows(0)}
    real_lookup = t.current_version
    armed = []

    def lookup_then_commit():
        v = real_lookup()
        if armed:  # first lookup of this read: commit right behind it
            armed.clear()
            nxt = rows(5 * len(committed))
            other = BucketedTargetTable(
                spark, str(tmp_path), "pinned", buckets=4, keys=["doc_id"],
                zone_cols=["ts"], zone_split=2, bloom_col="part",
            )
            committed[other.write(spark.createDataFrame(nxt, SCHEMA))] = nxt
        return v

    t.current_version = lookup_then_commit
    cases = [
        (lambda: t.route_read(eq=("part", 150)), "bloom", lambda r: r[1] == 150),
        (lambda: t.route_read(between=("ts", 1100, 1200)), "zones",
         lambda r: 1100 <= r[2] <= 1200),
        (lambda: t.route_read(box={"ts": (1100, 1200)}), "zones",
         lambda r: 1100 <= r[2] <= 1200),
        (lambda: t.read_range(1100, 1200, "ts"), None, lambda r: 1100 <= r[2] <= 1200),
    ]
    for read, route, pred in cases:
        v = max(committed)
        armed.append(True)
        out = read()
        if route is not None:
            assert out.route == route
            out = out.df
        assert max(committed) == v + 1  # the racing commit did land
        want = sorted(r[0] for r in committed[v] if pred(r))
        assert want and sorted(r["doc_id"] for r in out.collect()) == want, route
