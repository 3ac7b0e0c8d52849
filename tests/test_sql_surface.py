"""SQL entry surface: ANSI-core oracle strings run unchanged through
Spark's own parser (register_views + spark.sql) and agree with the
DataFrame plans — demonstrating the engine exposes a full SQL interface,
not just the DataFrame API. Also covers target-table compaction and
partitioned versioned writes."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from tipoca_stream_spark.plans import QUERIES
from tipoca_stream_spark.sources.tables import register_views
from tipoca_stream_spark.sources.target import ParquetTargetTable

SF_DIR = "/root/testdata/sf0.001"

# oracle strings written in the ANSI core (no DuckDB-only functions) —
# they must parse and run identically under Spark SQL
ANSI_PORTABLE = [
    "m4_delete_op_filter",
    "m3_delete_common_anti",
    "window_first_last",
    "join_full_outer_coverage",
    "setop_union_all_counts",
    "agg_mode_deterministic",
]


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_oracle_sql_runs_on_spark_sql(spark):
    register_views(spark, SF_DIR)
    for name in ANSI_PORTABLE:
        qdef = QUERIES[name]
        via_sql = spark.sql(qdef.oracle)
        via_df = qdef.fn(spark, SF_DIR)
        cols = sorted(via_sql.columns)
        assert cols == sorted(via_df.columns), name
        assert _rows(via_sql, cols) == _rows(via_df, cols), name


def test_target_compact_reduces_files(spark, tmp_path):
    t = ParquetTargetTable(spark, str(tmp_path), "events_t")
    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).repartition(16)
    t.write(df)
    v1_files = glob.glob(f"{t.path}/v=1/*.parquet")
    assert len(v1_files) > 4
    v2 = t.compact(target_files=2)
    assert v2 == 2
    v2_files = glob.glob(f"{t.path}/v=2/*.parquet")
    assert len(v2_files) <= 2
    assert t.read().count() == 10000
    assert t.read().agg(F.sum("id")).collect()[0][0] == sum(range(10000))
