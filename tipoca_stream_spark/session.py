"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same builder
settings are what we would ship to a 1000-executor cluster (AQE on, skew
join handling on, Arrow on). Shuffle partitions default to the local core
count — on a real cluster you would size this to ~2-3× total cores or rely
on AQE coalescing, which is enabled.

Parquet timestamps are written as INT64 ``TIMESTAMP_MICROS`` rather than
Spark's INT96 default. Both round-trip a microsecond timestamp exactly,
but only the INT64 encoding carries min/max in the file footers, which is
where zone maps read each file's bounds; a timestamp zone column in an
INT96 file gets null bounds and is always scheduled. The option is
session-wide: a per-write ``outputTimestampType`` option is ignored.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tipoca_stream_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as epoch-nanos
        # long (normalized in sources.tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamps as INT64 TIMESTAMP_MICROS, not the INT96 default: INT96
        # footers carry no min/max, and zone maps read file bounds from the
        # footers (sources/zonemap.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
