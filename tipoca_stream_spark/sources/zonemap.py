"""Zone maps: per-file min/max stats + range layout = file-level data
skipping for predicates partitioning can't serve.

The reference declares ``SORTKEY`` on every Redshift target (sortkey DDL
in sources/jdbc.py D1, from the Debezium schema hints) precisely so the
warehouse's zone maps can skip blocks on range predicates. This module is
the engine-side equivalent for parquet tables, Delta/Iceberg data
skipping reduced to its core, and the one zone mechanism every zoned
table uses (``ZoneMappedTable``, ``ZOrderedTable`` and the versioned CDC
targets in sources/target.py):

- **layout**: ``repartitionByRange`` on the zone column, so each output
  file owns a tight, nearly-disjoint value range (a random layout gives
  every file min≈global-min/max≈global-max and skips nothing) — this is
  the SORTKEY's physical meaning;
- **stats** (``footer_zone_stats``): every parquet footer already holds
  per-row-group min/max, so a file's zone is read off its footer on the
  driver with pyarrow — no Spark job, no data scan. The stats table (one
  row per file: ``file``, ``min_<c>``, ``max_<c>``) is written as one
  parquet file under ``_zones/`` (underscore-prefixed, so the data scan
  never sees it — the same trick as Delta's ``_delta_log``), with the
  columns' Spark types recorded in the footer so Spark reads it back
  with exactly those types;
- **read** (``zone_keep``): a range predicate is evaluated on the driver
  over the stats table, comparing in Spark's internal representation
  (epoch micros, epoch days, exact decimals), so the kept set is what the
  ``F.lit`` comparison on the stats would keep. A file whose zone is
  unknown (null bounds) is always kept; a bound that cannot be compared
  on the driver forfeits pruning, never correctness.

Hive partitioning prunes on LOW-cardinality columns (dates, buckets);
zone maps cover the continuous/high-cardinality ones (timestamps, ids,
amounts) where a directory per value is impossible. Timestamp zones need
the ``TIMESTAMP_MICROS`` parquet encoding ``session.get_spark`` sets:
INT96 footers carry no min/max, so such files get null bounds and are
always scheduled.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import shutil
from decimal import Decimal
from fractions import Fraction

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

# footer key under which Spark records a parquet file's Catalyst schema
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(d: str) -> list[str]:
    """The data files directly under ``d``: ``.parquet`` files whose names
    do not start with ``_`` or ``.`` (the hidden-file convention that keeps
    sidecars, markers and checksums out of the data scan)."""
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def spark_schema_of(path: str) -> T.StructType | None:
    """The Spark schema recorded in a parquet file's footer, or None when
    the file was not written by Spark (or carries no such record)."""
    meta = pq.read_metadata(path).metadata or {}
    raw = meta.get(SPARK_ROW_METADATA)
    return T.StructType.fromJson(json.loads(raw)) if raw else None


def _raw_bound(raw, column, dt: T.DataType):
    """A footer's raw min/max value in Spark's internal representation for
    ``dt``, or None when it cannot bound the file (NaN, an encoding this
    reader does not map, an unsupported type)."""
    if isinstance(dt, (T.BooleanType, T.IntegralType, T.DateType)):
        return raw
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return None if math.isnan(raw) else raw
    if isinstance(dt, T.DecimalType):  # unscaled integer
        return int.from_bytes(raw, "big", signed=True) if isinstance(raw, bytes) else raw
    if isinstance(dt, T.StringType):
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(dt, T.TimestampType) and column.physical_type == "INT64":
        unit = json.loads(column.logical_type.to_json()).get("timeUnit")
        scale = {"microseconds": 1, "milliseconds": 1000}.get(unit)
        return None if scale is None else raw * scale
    return None


def _file_bounds(md, j: int | None, dt: T.DataType) -> tuple:
    """(min, max) of column ``j`` over every row group of one footer:
    the min of the row-group minimums and the max of the maximums.
    All-null row groups hold no value and are skipped. Unknown bounds —
    a non-null row group without min/max (INT96 timestamps, oversized
    strings), a NaN bound, no row groups at all — give (None, None): the
    file is always scheduled."""
    if j is None or md.num_row_groups == 0:
        return None, None
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        s = rg.column(j).statistics
        if s is not None and s.has_null_count and s.null_count == rg.num_rows:
            continue
        if s is None or not s.has_min_max:
            return None, None
        a = _raw_bound(s.min_raw, md.schema.column(j), dt)
        b = _raw_bound(s.max_raw, md.schema.column(j), dt)
        if a is None or b is None:
            return None, None
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)
    return lo, hi


def _to_arrow(values: list, dt: T.DataType) -> pa.Array:
    """Internal-representation values → an Arrow array of ``dt``'s type."""
    at = to_arrow_type(dt)
    if isinstance(dt, T.TimestampType):
        return pa.array(values, pa.int64()).cast(at)
    if isinstance(dt, T.DateType):
        return pa.array(values, pa.int32()).cast(at)
    if isinstance(dt, T.DecimalType):
        values = [None if u is None else Decimal(f"{u}e-{dt.scale}") for u in values]
    return pa.array(values, at)


def footer_zone_stats(files: list[str], cols: list[str], schema: T.StructType) -> pa.Table:
    """One stats row per file in ``files`` — ``file`` (base name) and
    ``min_<c>``/``max_<c>`` for each of ``cols``, typed as ``schema``
    types them — read from the parquet footers alone."""
    types = {c: schema[c].dataType for c in cols}
    bounds: dict[str, list] = {f"{p}_{c}": [] for c in cols for p in ("min", "max")}
    for path in files:
        md = pq.read_metadata(path)
        idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
        for c in cols:
            lo, hi = _file_bounds(md, idx.get(c), types[c])
            bounds[f"min_{c}"].append(lo)
            bounds[f"max_{c}"].append(hi)
    columns = [pa.array([os.path.basename(f) for f in files], pa.string())]
    columns += [_to_arrow(bounds[f"{p}_{c}"], types[c]) for c in cols for p in ("min", "max")]
    return pa.Table.from_arrays(columns, schema=zone_arrow_schema(cols, schema))


def zone_schema(cols: list[str], schema: T.StructType) -> T.StructType:
    """The Spark schema of a stats table over ``cols``."""
    fields = [T.StructField("file", T.StringType())]
    for c in cols:
        dt = schema[c].dataType
        fields += [T.StructField(f"min_{c}", dt), T.StructField(f"max_{c}", dt)]
    return T.StructType(fields)


def zone_arrow_schema(cols: list[str], schema: T.StructType) -> pa.Schema:
    """The Arrow schema of a stats table over ``cols``."""
    return pa.schema(
        [(f.name, to_arrow_type(f.dataType)) for f in zone_schema(cols, schema).fields]
    )


def write_zone_sidecar(stats: pa.Table, zdir: str, cols: list[str], schema: T.StructType) -> None:
    """Replace ``zdir`` with one parquet file holding ``stats``, its
    columns' Spark types recorded in the footer (a Spark read of the
    sidecar gets them back exactly, timestamps included)."""
    shutil.rmtree(zdir, ignore_errors=True)
    os.makedirs(zdir)
    meta = {SPARK_ROW_METADATA: zone_schema(cols, schema).json().encode()}
    pq.write_table(stats.replace_schema_metadata(meta), os.path.join(zdir, "part-00000.parquet"))


def read_zone_sidecar(zdir: str) -> pa.Table | None:
    """The stats table under ``zdir`` (pyarrow- or Spark-written), or None
    when there is none. ``partitioning=None``: a ``v=<n>`` directory above
    must not turn into a column."""
    if not os.path.isdir(zdir) or not data_files(zdir):
        return None
    return pq.read_table(zdir, partitioning=None)


def _internal(col: pa.ChunkedArray, dt: T.DataType) -> list:
    """A stats column in the comparison representation ``_bound`` uses."""
    if isinstance(dt, T.TimestampType):
        col = col.cast(to_arrow_type(dt)).cast(pa.int64())
    elif isinstance(dt, T.DateType):
        col = col.cast(pa.int32())
    values = col.to_pylist()
    if isinstance(dt, T.DecimalType):
        return [None if v is None else Fraction(v) for v in values]
    return values


def _bound(dt: T.DataType, v):
    """``v`` as a range bound on a ``dt`` column, in the representation
    ``_internal`` gives the stats, or None when the driver cannot compare
    it the way Spark compares ``col`` with ``F.lit(v)`` (Spark would cast
    one side, e.g. a float bound on a long column)."""
    if v is None or isinstance(v, bool) != isinstance(dt, T.BooleanType):
        return None
    if isinstance(dt, (T.BooleanType, T.IntegralType)):
        return v if isinstance(v, int) else None
    if isinstance(dt, T.DoubleType) and isinstance(v, (int, float)):
        return None if math.isnan(v) else float(v)
    if isinstance(dt, T.FloatType) and isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(dt, T.DecimalType) and isinstance(v, (int, Decimal)):
        return Fraction(v) if not isinstance(v, Decimal) or v.is_finite() else None
    if isinstance(dt, T.StringType) and isinstance(v, str):
        return v
    if isinstance(dt, T.TimestampType) and isinstance(v, datetime.datetime):
        return dt.toInternal(v)
    if isinstance(dt, T.DateType) and type(v) is datetime.date:
        return dt.toInternal(v)
    return None


def zone_keep(stats: pa.Table, ranges: dict) -> list[str] | None:
    """The ``file`` names of ``stats`` whose zones may hold a row inside
    every ``col: (lo, hi)`` range, on the driver, no Spark job. A file is
    dropped only when some range provably misses it (``max < lo`` or
    ``min > hi``); a null bound keeps it. None when a bound cannot be
    compared on the driver, or the stats carry no Spark types — the
    caller then scans without pruning."""
    raw = (stats.schema.metadata or {}).get(SPARK_ROW_METADATA)
    if raw is None:
        return None
    types = {f.name: f.dataType for f in T.StructType.fromJson(json.loads(raw)).fields}
    keep = [True] * stats.num_rows
    for col, (lo, hi) in ranges.items():
        dt = types[f"min_{col}"]
        blo, bhi = _bound(dt, lo), _bound(dt, hi)
        if blo is None or bhi is None:
            return None
        try:
            mins = _internal(stats.column(f"min_{col}"), dt)
            maxs = _internal(stats.column(f"max_{col}"), dt)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
        for i, (mn, mx) in enumerate(zip(mins, maxs)):
            if (mx is not None and mx < blo) or (mn is not None and mn > bhi):
                keep[i] = False
    return [f for f, k in zip(stats.column("file").to_pylist(), keep) if k]


class ZoneMappedTable:
    """``zone_col`` drives the range layout (the clustering/SORTKEY
    column); ``extra_cols`` are additionally tracked in the stats table,
    so predicates on them can skip files too — they prune well when they
    CORRELATE with the layout column (ts↔id, ts↔offset — common in CDC),
    exactly like Redshift zone maps on non-sortkey columns."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        zone_col: str,
        extra_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.zone_col = zone_col
        self.extra_cols = extra_cols or []

    @property
    def _zones_path(self) -> str:
        # underscore prefix = invisible to Spark's file index for the data
        # scan (hidden-file convention), so stats can live inside the table
        return os.path.join(self.path, "_zones")

    def write(self, df: DataFrame, n_files: int = 8) -> None:
        """Range-cluster on the zone column and persist per-file stats for
        it and every extra column, read from the written files' footers —
        the write itself is the one range shuffle that buys every later
        read its skipping."""
        df.repartitionByRange(n_files, F.col(self.zone_col)).write.mode(
            "overwrite"
        ).parquet(self.path)
        self._write_stats(df.schema)

    def _write_stats(self, schema: T.StructType) -> None:
        tracked = [self.zone_col, *self.extra_cols]
        write_zone_sidecar(
            footer_zone_stats(data_files(self.path), tracked, schema),
            self._zones_path,
            tracked,
            schema,
        )

    def read_range(self, lo, hi, col: str | None = None) -> DataFrame:
        """Rows with ``col`` (default: the layout column) in [lo, hi] —
        scanning only files whose zone overlaps. The residual filter still
        applies (zones are file-granular); correctness never depends on
        the stats, only speed."""
        return self.read_box({col or self.zone_col: (lo, hi)})

    def read_box(self, ranges: dict) -> DataFrame:
        """Rows inside a hyper-rectangle: ``ranges`` maps column → (lo, hi),
        all conjunctive. A file is kept unless its zone provably misses the
        box on ANY tracked dimension — so every tracked column contributes
        skipping, which is where a Z-ordered layout (sources/zorder.py)
        pays off: its files are small hyper-rectangles and the per-dim
        prunes compose multiplicatively. Untracked columns only add to the
        residual filter. Correctness never depends on the stats."""
        pred = F.lit(True)
        for col, (lo, hi) in ranges.items():
            pred = pred & F.col(col).between(F.lit(lo), F.lit(hi))
        stats = read_zone_sidecar(self._zones_path)
        tracked = {
            c: r for c, r in ranges.items()
            if stats is not None and f"min_{c}" in stats.column_names
        }
        kept = zone_keep(stats, tracked) if tracked else None
        # stats written by Spark name files by URI (``file:/...``); the
        # base name locates them either way. A kept file that is not there
        # (a percent-encoded URI, a moved table) forfeits pruning.
        files = [os.path.join(self.path, os.path.basename(f)) for f in kept or []]
        if kept is None or not all(os.path.exists(f) for f in files):
            return self.read().filter(pred)
        if not files:
            return self.read().limit(0)
        return self.spark.read.option("basePath", self.path).parquet(*files).filter(pred)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)
