"""Warehouse (JDBC) sink parity: DDL generation with physical-layout hints
and the staged-merge SQL the reference pushes into Redshift.

The reference never row-inserts — it generates SQL strings in Go and
executes them warehouse-side (pkg/redshift/redshift.go). This module
reproduces that surface so the engine can drive a real JDBC warehouse:

- D1 CREATE SCHEMA/TABLE with PK, compound sortkey, distkey
  (redshift.go:197-256,358-422; sortkey SQL :283-298, distkey :311-327)
- D4/D5 ALTER strategies (varchar resize :451-469; transactable adds/drops
  :471-504)
- D6 table rebuild: rename → create → copy → drop (:521-594)
- S7 COPY from manifest (:843-900), S8 UNLOAD (:812-838)
- M2-M5 merge statements (DeDupe :666-698, DeleteCommon :701-753,
  DeleteColumn :779-795, DropColumn :797-808)

No live warehouse exists in this container, so tests golden-check the SQL
text; ``spark_jdbc_writer`` wires the same table spec to Spark's JDBC
writer for engines reachable over JDBC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tipoca_stream_spark.schema.model import ColInfo, Table
from tipoca_stream_spark.schema.types import varchar_length

_SPARK_TO_SQL: list[tuple[type, str]] = [
    (T.BooleanType, "BOOLEAN"),
    (T.ShortType, "SMALLINT"),
    (T.IntegerType, "INTEGER"),
    (T.LongType, "BIGINT"),
    (T.FloatType, "REAL"),
    (T.DoubleType, "DOUBLE PRECISION"),
    (T.DateType, "DATE"),
    (T.TimestampNTZType, "TIMESTAMP WITHOUT TIME ZONE"),
    (T.TimestampType, "TIMESTAMP WITHOUT TIME ZONE"),
]


def sql_type(col: ColInfo) -> str:
    t = col.spark_type
    if isinstance(t, T.DecimalType):
        return f"NUMERIC({t.precision},{t.scale})"
    if isinstance(t, T.StringType):
        return f"VARCHAR({varchar_length(col.source_column_length, col.masked)})"
    for klass, name in _SPARK_TO_SQL:
        if isinstance(t, klass):
            return name
    return "VARCHAR(65535)"


def quoted(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def create_table_sql(table: Table) -> str:
    """D1 with sortkey/distkey clauses (redshift.go:358-422)."""
    cols = []
    for c in table.columns:
        line = f"{quoted(c.name)} {sql_type(c)}"
        if c.default_val is not None:
            line += f" DEFAULT {c.default_val}"
        if c.not_null:
            line += " NOT NULL"
        cols.append(line)
    pks = table.primary_keys
    if pks:
        cols.append("PRIMARY KEY (" + ", ".join(quoted(p) for p in pks) + ")")
    ddl = f"CREATE TABLE IF NOT EXISTS {quoted(table.schema_name)}.{quoted(table.name)} (\n  "
    ddl += ",\n  ".join(cols) + "\n)"
    dist = table.dist_key
    ddl += f"\nDISTSTYLE KEY DISTKEY({quoted(dist)})" if dist else "\nDISTSTYLE EVEN"
    if table.sort_keys:
        ddl += "\nCOMPOUND SORTKEY(" + ", ".join(quoted(s) for s in table.sort_keys) + ")"
    return ddl


def alter_add_column_sql(table: Table, col: ColInfo) -> str:
    """D5 (redshift.go:471-504)."""
    line = f"ALTER TABLE {quoted(table.schema_name)}.{quoted(table.name)} ADD COLUMN {quoted(col.name)} {sql_type(col)}"
    if col.default_val is not None:
        line += f" DEFAULT {col.default_val}"
    return line


def alter_varchar_resize_sql(table: Table, col: ColInfo) -> str:
    """D4 — run OUTSIDE a transaction (redshift.go:451-469)."""
    return (
        f"ALTER TABLE {quoted(table.schema_name)}.{quoted(table.name)} "
        f"ALTER COLUMN {quoted(col.name)} TYPE {sql_type(col)}"
    )


def replace_table_sql(table: Table, migrating_suffix: str = "_migrating") -> list[str]:
    """D6 rebuild: rename old → create new → copy data → drop old
    (redshift.go:521-594)."""
    q = lambda n: f"{quoted(table.schema_name)}.{quoted(n)}"
    old = table.name + migrating_suffix
    common = ", ".join(quoted(c.name) for c in table.columns)
    return [
        f"ALTER TABLE {q(table.name)} RENAME TO {quoted(old)}",
        create_table_sql(table),
        f"INSERT INTO {q(table.name)} ({common}) SELECT {common} FROM {q(old)}",
        f"DROP TABLE {q(old)} CASCADE",
    ]


def release_swap_sql(schema: str, table: str, reload_suffix: str = "_ts_adx_reload") -> list[str]:
    """D7 mask-reload cutover (controllers/release.go:69-146; suffix
    sinkgroup_controller.go:29)."""
    q = lambda n: f"{quoted(schema)}.{quoted(n)}"
    return [
        f"DROP TABLE IF EXISTS {q(table)} CASCADE",
        f"ALTER TABLE {q(table + reload_suffix)} RENAME TO {quoted(table)}",
    ]


def grant_sql(schema: str, table: str, group: str) -> list[str]:
    """D8 (redshift.go:619-647)."""
    return [
        f"GRANT USAGE ON SCHEMA {quoted(schema)} TO GROUP {quoted(group)}",
        f"GRANT SELECT ON {quoted(schema)}.{quoted(table)} TO GROUP {quoted(group)}",
    ]


def copy_from_manifest_sql(table: Table, manifest_url: str, fmt: str = "json") -> str:
    """S7 (redshift.go:843-900): bulk load, never row-INSERT."""
    base = (
        f"COPY {quoted(table.schema_name)}.{quoted(table.name)} FROM '{manifest_url}' "
        "MANIFEST TRUNCATECOLUMNS ACCEPTINVCHARS COMPUPDATE OFF STATUPDATE OFF GZIP"
    )
    if fmt == "json":
        return base + " JSON 'auto'"
    return base + " CSV EMPTYASNULL"


def unload_sql(table: Table, s3_prefix: str, distinct: bool = False) -> str:
    """S8 (redshift.go:812-838)."""
    sel = "SELECT DISTINCT * FROM" if distinct else "SELECT * FROM"
    return (
        f"UNLOAD ('{sel} {quoted(table.schema_name)}.{quoted(table.name)}') "
        f"TO '{s3_prefix}' MANIFEST GZIP CSV"
    )


def dedupe_sql(schema: str, staging: str, pks: list[str], offset_col: str = "kafkaoffset") -> str:
    """M2 self-join delete keeping max offset per PK (redshift.go:666-698)."""
    q = lambda n: f"{quoted(schema)}.{quoted(n)}"
    on = " AND ".join(f"t1.{quoted(p)} = t2.{quoted(p)}" for p in pks)
    return (
        f"DELETE FROM {q(staging)} WHERE {quoted(offset_col)} IN ("
        f"SELECT t1.{quoted(offset_col)} FROM {q(staging)} t1 JOIN {q(staging)} t2 ON {on} "
        f"WHERE t1.{quoted(offset_col)} < t2.{quoted(offset_col)})"
    )


def delete_common_sql(schema: str, staging: str, target: str, pks: list[str]) -> str:
    """M3 semi-join delete (redshift.go:701-753)."""
    q = lambda n: f"{quoted(schema)}.{quoted(n)}"
    pk_list = ", ".join(quoted(p) for p in pks)
    on = " AND ".join(f"t1.{quoted(p)} = t2.{quoted(p)}" for p in pks)
    sel = ", ".join(f"t1.{quoted(p)}" for p in pks)
    return (
        f"DELETE FROM {q(target)} WHERE ({pk_list}) IN ("
        f"SELECT {sel} FROM {q(staging)} t1 JOIN {q(target)} t2 ON {on})"
    )


def delete_op_rows_sql(schema: str, staging: str, op_col: str = "debeziumop") -> str:
    """M4 (redshift.go:779-795)."""
    return f"DELETE FROM {quoted(schema)}.{quoted(staging)} WHERE {quoted(op_col)} = 'DELETE'"


def spark_jdbc_writer(df: DataFrame, url: str, table: Table, batchsize: int = 10000):
    """S9: Spark JDBC writer honoring the table's physical layout — the
    DataFrame is repartitioned on the distkey and sorted on the sortkeys so
    parallel INSERT batches arrive clustered."""
    laid_out = table.apply_physical_layout(df)
    return (
        laid_out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", f"{table.schema_name}.{table.name}")
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
    )
