"""Zone stats read from parquet footers and bucket ids hashed on the
driver: the sidecar must equal what ``F.min``/``F.max`` give per file
(or hold null bounds where a footer cannot bound the file, which keeps
the file scheduled), the Python bucket id must equal Spark's
``pmod(hash(key), n)``, and routing and zone commits must run no Spark
job."""

from __future__ import annotations

import datetime
import os
import random
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.sources.target import (
    BucketedTargetTable,
    ParquetTargetTable,
    spark_bucket_id,
    spark_hash,
)

BUCKET_COUNTS = (1, 4, 7, 32)


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn submitted), counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{random.getrandbits(64):x}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _random_strings(rng):
    alphabet = ["a", "Z", "0", " ", "é", "ß", "中", "文", "😀", "́", "\x00", "ÿ"]
    out = ["", "a", "ab", "abc", "abcd", "é", "😀", "中文", "a😀", "ab中"]
    for n in range(40):
        out.append("".join(rng.choice(alphabet) for _ in range(n % 13)))
    # every UTF-8 byte length mod 4, through multi-byte characters
    for n in range(16):
        out.append("é" * n)
        out.append("x" + "😀" * (n % 5))
    return out


@pytest.mark.parametrize(
    "dt, values",
    [
        (
            T.IntegerType(),
            [0, 1, -1, 42, 2**31 - 1, -(2**31)]
            + [random.Random(1).randint(-(2**31), 2**31 - 1) for _ in range(200)],
        ),
        (
            T.LongType(),
            [0, 1, -1, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]
            + [random.Random(2).randint(-(2**63), 2**63 - 1) for _ in range(200)],
        ),
        (T.StringType(), _random_strings(random.Random(3))),
    ],
    ids=["int", "long", "string"],
)
def test_python_bucket_id_matches_spark_hash(spark, dt, values):
    df = spark.createDataFrame([(v,) for v in values], T.StructType([T.StructField("k", dt)]))
    got = df.select(
        "k",
        F.hash("k").alias("h"),
        *[F.pmod(F.hash("k"), F.lit(n)).alias(f"b{n}") for n in BUCKET_COUNTS],
    ).collect()
    assert len(got) == len(values)
    for r in got:
        assert spark_hash(r["k"], dt) == r["h"], r["k"]
        for n in BUCKET_COUNTS:
            assert spark_bucket_id(r["k"], dt, n) == r[f"b{n}"], (r["k"], n)


def test_python_hash_declines_what_it_does_not_cover():
    assert spark_hash(1.5, T.DoubleType()) is None
    assert spark_hash("7", T.LongType()) is None
    assert spark_hash(True, T.LongType()) is None
    assert spark_hash(2**31, T.IntegerType()) is None
    assert spark_hash("\ud800", T.StringType()) is None
    assert spark_hash(5, T.ShortType()) is None


# --- footer stats vs F.min/F.max ---------------------------------------------


def _sidecar(t: ParquetTargetTable) -> dict:
    vdir = os.path.join(t.path, f"v={t.current_version()}")
    rows = t.spark.read.parquet(os.path.join(vdir, "_zones", "part-00000.parquet")).collect()
    return {r["file"]: r for r in rows}


def _spark_min_max(t: ParquetTargetTable, col: str) -> dict:
    vdir = os.path.join(t.path, f"v={t.current_version()}")
    rel = F.regexp_replace(F.input_file_name(), r"^.*/", "")
    rows = (
        t.spark.read.parquet(vdir)
        .groupBy(rel.alias("file"))
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
        .collect()
    )
    return {r["file"]: (r["lo"], r["hi"]) for r in rows}


def _zoned(spark, tmp_path, name, df, col, files=4):
    t = ParquetTargetTable(spark, str(tmp_path), name, zone_cols=[col], zone_files=files)
    t.write(df)
    return t


def _assert_matches_spark(t, col, except_files=()):
    side, want = _sidecar(t), _spark_min_max(t, col)
    vdir = os.path.join(t.path, f"v={t.current_version()}")
    assert set(side) == {os.path.basename(f) for f in t._version_files(vdir)}
    checked = 0
    for f, (lo, hi) in want.items():
        if f in except_files:
            continue
        assert (side[f][f"min_{col}"], side[f][f"max_{col}"]) == (lo, hi), f
        checked += 1
    return checked


def test_file_bounds_fold_row_groups_and_skip_all_null_ones(tmp_path):
    import pyarrow as pa

    from tipoca_stream_spark.sources.zonemap import footer_zone_stats

    # the extremes sit in a middle row group, between all-null ones
    z = list(range(10)) + [None] * 10 + [-3, 20] + list(range(8)) + [None] * 10 + list(range(2, 12))
    path = str(tmp_path / "rg.parquet")
    pq.write_table(pa.table({"z": pa.array(z, pa.int64())}), path, row_group_size=10)
    assert pq.read_metadata(path).num_row_groups == 5
    stats = footer_zone_stats([path], ["z"], T.StructType([T.StructField("z", T.LongType())]))
    assert stats.to_pylist() == [{"file": "rg.parquet", "min_z": -3, "max_z": 20}]


def test_sidecar_types_are_the_spark_types(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id").cast("int").alias("i"),
        (F.col("id") * 10).alias("l"),
        F.col("id").cast("double").alias("d"),
    )
    t = ParquetTargetTable(spark, str(tmp_path), "typed", zone_cols=["i", "l", "d"], zone_files=3)
    t.write(df)
    zdir = os.path.join(t.path, "v=1", "_zones")
    assert os.listdir(zdir) == ["part-00000.parquet"]
    stats = spark.read.parquet(zdir)
    assert stats.dtypes == [
        ("file", "string"),
        ("min_i", "int"), ("max_i", "int"),
        ("min_l", "bigint"), ("max_l", "bigint"),
        ("min_d", "double"), ("max_d", "double"),
    ]
    for c in ("i", "l", "d"):
        assert _assert_matches_spark(t, c) == 3


def test_all_null_file_gets_null_bounds_and_is_scheduled(spark, tmp_path):
    df = spark.range(50).select(F.col("id"), F.lit(None).cast("long").alias("z"))
    t = _zoned(spark, tmp_path, "allnull", df, "z", files=2)
    assert _assert_matches_spark(t, "z") >= 1
    assert all(r["min_z"] is None and r["max_z"] is None for r in _sidecar(t).values())
    vdir = os.path.join(t.path, "v=1")
    assert len(t.range_files(0, 10)) == len(t._version_files(vdir))
    assert t.read_range(0, 10).count() == 0


def test_nan_double_file_gets_null_bounds_and_is_scheduled(spark, tmp_path):
    rows = [(i, float(i)) for i in range(40)] + [(99, float("nan"))]
    df = spark.createDataFrame(rows, "id long, z double")
    t = _zoned(spark, tmp_path, "nan", df, "z", files=2)
    side = _sidecar(t)
    nan_files = [f for f, (lo, hi) in _spark_min_max(t, "z").items() if hi != hi]
    assert len(nan_files) == 1
    assert side[nan_files[0]]["min_z"] is None and side[nan_files[0]]["max_z"] is None
    assert _assert_matches_spark(t, "z", except_files=nan_files) == 1
    # the NaN file also holds low values; a range read must schedule it
    lo = _spark_min_max(t, "z")[nan_files[0]][0]
    files = {os.path.basename(f) for f in t.range_files(lo, lo)}
    assert nan_files[0] in files
    assert t.read_range(lo, lo).count() == 1


def test_zero_row_version_is_scheduled_and_empty(spark, tmp_path):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("z")).limit(0)
    t = _zoned(spark, tmp_path, "zero", df, "z")
    side = _sidecar(t)
    assert len(side) == 1
    (row,) = side.values()
    assert row["min_z"] is None and row["max_z"] is None
    assert _spark_min_max(t, "z") == {}
    assert len(t.range_files(0, 100)) == 1
    assert t.read_range(0, 100).count() == 0


def test_string_zone_column(spark, tmp_path):
    words = _random_strings(random.Random(5))
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "id long, z string")
    t = _zoned(spark, tmp_path, "str", df, "z")
    assert _assert_matches_spark(t, "z") == 4
    for lo, hi in [("a", "b"), ("é", "中"), ("", "")]:
        want = sorted(r["id"] for r in t.read().filter(F.col("z").between(lo, hi)).collect())
        assert sorted(r["id"] for r in t.read_range(lo, hi).collect()) == want


def test_decimal_zone_column(spark, tmp_path):
    df = spark.range(400).select(
        F.col("id"),
        ((F.col("id") - 200) * F.lit(Decimal("1.234567"))).cast("decimal(18,6)").alias("z"),
    )
    t = _zoned(spark, tmp_path, "dec", df, "z")
    assert _assert_matches_spark(t, "z") == 4
    vdir = os.path.join(t.path, "v=1")
    n = len(t._version_files(vdir))
    for lo, hi in [(Decimal("-10.5"), Decimal("12.3456789")), (0, 5), (Decimal("1000000"), Decimal("2000000"))]:
        files = t.range_files(lo, hi)
        assert files is not None and len(files) < n
        want = t.read().filter(F.col("z").between(F.lit(lo), F.lit(hi))).count()
        assert t.read_range(lo, hi).count() == want
    # a float bound: Spark would compare in double, so the driver forfeits
    assert t.range_files(1.5, 2.5) is None
    assert t.read_range(1.5, 2.5).count() == 1


def test_legacy_int96_timestamps_get_null_bounds(spark, tmp_path):
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    base = datetime.datetime(2024, 1, 1)
    df = spark.range(200).select(
        F.col("id"),
        (F.lit(base) + F.make_interval(mins=F.col("id").cast("int"))).alias("z"),
    )
    spark.conf.set(key, "INT96")
    try:
        t = _zoned(spark, tmp_path, "int96", df, "z")
    finally:
        spark.conf.set(key, before)
    vdir = os.path.join(t.path, "v=1")
    data = t._version_files(vdir)
    assert pq.read_metadata(data[0]).schema.column(1).physical_type == "INT96"
    side = _sidecar(t)
    assert len(side) == len(data) == 4
    assert all(r["min_z"] is None and r["max_z"] is None for r in side.values())
    lo, hi = base, base + datetime.timedelta(minutes=9)
    assert len(t.range_files(lo, hi)) == 4
    assert t.read_range(lo, hi).count() == 10


def test_timestamp_zone_prunes_on_bucketed_target(spark, tmp_path):
    base = datetime.datetime(2024, 3, 1, 12, 0)
    df = spark.range(4000).select(
        F.col("id"),
        (F.lit(base) + F.make_interval(secs=F.col("id").cast("int"))).alias("ts"),
    )
    t = BucketedTargetTable(
        spark, str(tmp_path), "bts", buckets=4, keys=["id"], zone_cols=["ts"], zone_split=4
    )
    t.write(df)
    vdir = os.path.join(t.path, "v=1")
    n = len(t._version_files(vdir))
    assert _assert_matches_spark(t, "ts") == n
    lo, hi = base + datetime.timedelta(seconds=100), base + datetime.timedelta(seconds=299)
    got = t.read_range(lo, hi)
    assert 0 < len(set(got.inputFiles())) <= n // 2, (len(set(got.inputFiles())), n)
    assert sorted(r["id"] for r in got.collect()) == list(range(100, 300))
    # a date bound on a timestamp column compares after a cast: no pruning
    assert t.range_files(datetime.date(2024, 3, 1), datetime.date(2024, 3, 2)) is None


def _spark_written_sidecar(spark, t, file_col):
    """Replace a zone-mapped table's sidecar with the stats table a Spark
    aggregation writes: ``file`` from ``input_file_name()`` (a ``file:``
    URI), typed min/max columns, Spark's schema record in the footer."""
    tracked = [t.zone_col, *t.extra_cols]
    aggs = [f(c).alias(f"{n}_{c}") for c in tracked for f, n in ((F.min, "min"), (F.max, "max"))]
    (
        t.read()
        .select(F.input_file_name().alias("file"), *tracked)
        .groupBy("file")
        .agg(*aggs)
        .withColumn("file", file_col)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(t._zones_path)
    )


def test_zone_mapped_table_reads_a_spark_written_sidecar(spark, tmp_path):
    from tipoca_stream_spark.sources.zonemap import ZoneMappedTable

    t = ZoneMappedTable(spark, str(tmp_path / "uri"), zone_col="z")
    t.write(spark.range(400).select("id", (F.col("id") * 3).alias("z")), n_files=4)
    want = sorted(r["id"] for r in t.read().filter(F.col("z").between(30, 90)).collect())
    all_files = set(t.read().inputFiles())

    _spark_written_sidecar(spark, t, F.col("file"))
    names = pq.read_table(t._zones_path, partitioning=None).column("file").to_pylist()
    assert len(names) == len(all_files) and all(f.startswith("file:") for f in names)
    got = t.read_range(30, 90)
    assert 0 < len(set(got.inputFiles())) < len(all_files)
    assert sorted(r["id"] for r in got.collect()) == want

    # a name that locates no file forfeits pruning, never rows
    _spark_written_sidecar(spark, t, F.concat(F.col("file"), F.lit(".gone")))
    got = t.read_range(30, 90)
    assert set(got.inputFiles()) == all_files
    assert sorted(r["id"] for r in got.collect()) == want


# --- no Spark job to route or to commit zone stats --------------------------


@pytest.fixture(scope="module")
def zoned_target(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("nojob")
    t = BucketedTargetTable(
        spark, str(root), "nojob", buckets=4, keys=["id"], zone_cols=["score"], zone_split=2
    )
    t.write(spark.range(2000).select("id", ((F.col("id") * 7919) % 2000).alias("score")))
    return t


def test_job_counter_sees_jobs(spark):
    _, n = _jobs_in(spark, lambda: spark.range(10).count())
    assert n >= 1


def test_route_read_on_long_pk_builds_without_a_job(spark, zoned_target):
    rr, n = _jobs_in(spark, lambda: zoned_target.route_read(eq=("id", 1234)))
    assert n == 0
    assert rr.route == "bucket" and rr.n_files < rr.total_files
    assert [r["score"] for r in rr.df.collect()] == [1234 * 7919 % 2000]


def test_read_range_builds_without_a_job(spark, zoned_target):
    df, n = _jobs_in(spark, lambda: zoned_target.read_range(100, 199))
    assert n == 0
    assert df.count() == 100


def test_zone_delta_commit_runs_no_job_after_its_data_write(spark, zoned_target, monkeypatch):
    t = zoned_target
    batch = spark.range(5).select("id", (F.col("id") + 5000).alias("score"))
    touched = sorted(r["b"] for r in batch.select(t.bucket_of().alias("b")).distinct().collect())
    delta = (
        t.read()
        .join(batch.select("id"), "id", "left_anti")
        .unionByName(batch)
        .filter(t.bucket_of().isin(touched))
    )
    sc = spark.sparkContext
    group = f"after-write-{random.getrandbits(64):x}"
    data_write = t._write_bucketed

    def write_then_count(*a, **kw):
        data_write(*a, **kw)
        sc.setJobGroup(group, group)

    monkeypatch.setattr(t, "_write_bucketed", write_then_count)
    try:
        t.write_bucket_delta(delta, touched)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # carried + fresh stats still cover the version and prune exactly
    got = t.read_range(5000, 5004)
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 3, 4]
    assert _assert_matches_spark(t, "score") == len(
        t._version_files(os.path.join(t.path, f"v={t.current_version()}"))
    )


def test_append_delta_runs_no_job_before_its_data_write(spark, tmp_path):
    t = BucketedTargetTable(
        spark, str(tmp_path), "apnojob", buckets=4, keys=["id"], zone_cols=["score"], zone_split=2
    )
    t.write(spark.range(2000).select("id", ((F.col("id") * 7919) % 2000).alias("score")))
    before = len(t._version_files(t._vdir(1)))
    batch = spark.range(2000, 2100).select("id", (F.col("id") % 2000).alias("score"))
    # only the range-partitioned data write's two jobs (its sampling job,
    # then shuffle + write); the bucket count comes off the file names
    _, n = _jobs_in(spark, lambda: t.append_delta(batch))
    assert n == 2
    fresh = [f for f in t._version_files(t._vdir(2)) if os.stat(f).st_nlink == 1]
    touched = {r["b"] for r in batch.select(t.bucket_of().alias("b")).distinct().collect()}
    stats = t.last_commit_stats
    assert (stats["files_written"], stats["files_linked"], stats["buckets_touched"]) == (
        len(fresh),
        before,
        len(touched),
    )
    assert t.read().count() == 2100


def test_plain_read_and_changes_build_without_a_job(spark, tmp_path):
    t = ParquetTargetTable(spark, str(tmp_path), "plainnojob")
    t.write(spark.range(100).select("id", F.lit("x").alias("s")))
    t.write(spark.range(50, 150).select("id", F.lit("x").alias("s")))
    df, n = _jobs_in(spark, lambda: t.read())
    assert n == 0
    assert df.count() == 100
    cdf, n = _jobs_in(spark, lambda: t.changes(1, 2, keys=["id"]))
    assert n == 0
    kinds = cdf.groupBy("_change_type").count().collect()
    assert {r["_change_type"]: r["count"] for r in kinds} == {"insert": 50, "delete": 50}
