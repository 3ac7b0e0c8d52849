"""Z-ordered (Morton-curve) table layout: multi-column file skipping.

A range layout on ONE column (`ZoneMappedTable`) gives tight per-file
zones for that column only; every other column's zones stay global-wide
and skip nothing. Interleaving the bits of k quantized columns into one
Morton key and range-clustering on THAT key makes each file own a small
hyper-rectangle of the k-dimensional space — so min/max stats prune on
EVERY participating column, and rectangle predicates (col1 range AND col2
range) skip multiplicatively. This is the standard lakehouse answer
(Delta/Iceberg `ZORDER BY` / `sort_order` on a curve) to the reference's
compound SORTKEY: Redshift's `SORTKEY (a, b)` zones skip well on `a` but
poorly on `b` alone — the curve layout serves both.

Everything is JVM-side Catalyst expressions: bit interleave is a fixed
tree of shift/and/or ops (codegen'd, no UDF), quantization bounds ride a
1-row broadcast. At 100 TB the one-time clustering shuffle is the same
cost as any SORTKEY build; every later rectangle query schedules only the
files whose hyper-rectangle intersects the predicate box.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tipoca_stream_spark.sources.zonemap import ZoneMappedTable


def morton_key(cols: list[Column], bits: int = 12) -> Column:
    """Interleave the low ``bits`` bits of k non-negative integer columns
    into one long: bit i of column j lands at position i*k + j. Pure
    shift/mask expression tree — whole-stage-codegen'd, no Python."""
    k = len(cols)
    acc = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for i in range(bits):
            acc = acc.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * k + j
                )
            )
    return acc


def quantize(c: Column, lo: Column, hi: Column, bits: int = 12) -> Column:
    """Map a numeric column into [0, 2^bits) given its (lo, hi) bounds —
    the fixed-point rank the Morton key interleaves. Degenerate bounds
    (hi == lo) map to 0; values are clamped so later appends with slight
    out-of-bounds values still land in the edge cells."""
    span = hi.cast("double") - lo.cast("double")
    cells = F.lit((1 << bits) - 1)
    raw = F.when(span > 0, (c.cast("double") - lo) * cells / span).otherwise(
        F.lit(0.0)
    )
    return F.least(F.greatest(raw.cast("long"), F.lit(0)), cells.cast("long"))


class ZOrderedTable(ZoneMappedTable):
    """Zone-mapped table whose physical layout is a Morton curve over
    ``cols`` (all of them tracked in the stats table). ``read_range`` on
    any single column and ``read_box`` on any subset prune files; the
    residual filter keeps correctness independent of the stats."""

    def __init__(self, spark, path: str, cols: list[str], bits: int = 12):
        super().__init__(spark, path, zone_col=cols[0], extra_cols=cols[1:])
        self.cols = cols
        self.bits = bits

    def write(self, df: DataFrame, n_files: int = 8) -> None:
        bounds = df.agg(
            *[
                m
                for c in self.cols
                for m in (
                    F.min(c).alias(f"__lo_{c}"),
                    F.max(c).alias(f"__hi_{c}"),
                )
            ]
        )
        keyed = df.join(F.broadcast(bounds))
        z = morton_key(
            [
                quantize(
                    F.col(c),
                    F.col(f"__lo_{c}"),
                    F.col(f"__hi_{c}"),
                    self.bits,
                )
                for c in self.cols
            ],
            self.bits,
        )
        (
            keyed.withColumn("__zkey", z)
            .repartitionByRange(n_files, F.col("__zkey"))
            .sortWithinPartitions("__zkey")
            .drop("__zkey", *[f"__lo_{c}" for c in self.cols], *[f"__hi_{c}" for c in self.cols])
            .write.mode("overwrite")
            .parquet(self.path)
        )
        self._write_stats(df.schema)
