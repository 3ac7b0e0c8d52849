"""M2 — latest-wins deduplication.

The reference dedupes the staging table with a self-join DELETE keeping the
max ``kafkaoffset`` per primary-key group (pkg/redshift/redshift.go:666-698,
invoked from load_processor.go:235-249)::

    delete from s where kafkaoffset in (
      select t1.kafkaoffset from s t1 join s t2 on t1.pk = t2.pk
      where t1.kafkaoffset < t2.kafkaoffset)

Spark-first this is NOT a join. Two equivalent single-shuffle strategies:

- ``max_by``: ``groupBy(pks).agg(max_by(struct(*cols), offset))`` — hash
  aggregate with **map-side partial aggregation**, so each input partition
  pre-collapses its duplicates before the shuffle. At 100 TB with hot keys
  (a frequently-updated row) this is the scale-safe default: shuffle volume
  is bounded by distinct keys per partition, not by event count.
- ``window``: ``row_number() over (partition by pks order by offset desc)``
  — shuffles *all* events to the key's reducer then sorts. Kept because it
  preserves input row identity (useful when downstream wants the losers too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def latest_wins(
    df: DataFrame,
    keys: list[str],
    order_col: str = "kafkaoffset",
    strategy: str = "max_by",
) -> DataFrame:
    """Keep exactly the highest-``order_col`` row per ``keys`` group."""
    if strategy == "max_by":
        # the aggregate is one SQL expression and the unnest one star: the
        # plan is the same as building struct/max_by/alias per column, but
        # construction makes a few py4j calls instead of several per column
        payload = ", ".join(_quote(c) for c in df.columns if c not in keys)
        agg = df.groupBy(*keys).agg(
            F.expr(f"max_by(struct({payload}), {_quote(order_col)}) AS _latest")
        )
        return agg.select(*keys, "_latest.*")
    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    raise ValueError(f"unknown dedupe strategy {strategy!r}")
