"""Relational schema model with physical-layout hints.

Mirrors ``redshift.Table{Name, Columns, Meta}`` / ``ColInfo`` —
pkg/redshift/redshift.go:124-163 — as a thin layer over Spark StructType.
Primary-key / sortkey / distkey land in StructField metadata; distkey ≈
``df.repartition(col)``, sortkey ≈ ``df.sortWithinPartitions`` (SURVEY.md
§1.1 item 3). Column names are forced lowercase everywhere
(debezium/schema.go:124).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tipoca_stream_spark.schema.types import resolve_spark_type


@dataclass
class ColInfo:
    """redshift.go:147-163."""

    name: str
    debezium_type: str = "string"
    source_column_type: str | None = None
    source_column_length: int | None = None
    default_val: str | None = None
    not_null: bool = False
    primary_key: bool = False
    sort_ordinal: int = 0
    dist_key: bool = False
    masked: bool = False

    def __post_init__(self) -> None:
        self.name = self.name.lower()

    @property
    def spark_type(self) -> T.DataType:
        return resolve_spark_type(self.debezium_type, self.source_column_type, self.masked)

    def to_struct_field(self) -> T.StructField:
        return T.StructField(
            self.name,
            self.spark_type,
            nullable=not self.not_null,
            metadata={
                "primary_key": self.primary_key,
                "sort_ordinal": self.sort_ordinal,
                "dist_key": self.dist_key,
                "masked": self.masked,
                "debezium_type": self.debezium_type,
                "source_column_type": self.source_column_type or "",
            },
        )


@dataclass
class Table:
    """redshift.go:124-134."""

    name: str
    columns: list[ColInfo]
    schema_name: str = "public"

    def __post_init__(self) -> None:
        self.name = self.name.lower()

    @property
    def primary_keys(self) -> list[str]:
        return [c.name for c in self.columns if c.primary_key]

    @property
    def sort_keys(self) -> list[str]:
        keyed = [c for c in self.columns if c.sort_ordinal > 0]
        return [c.name for c in sorted(keyed, key=lambda c: c.sort_ordinal)]

    @property
    def dist_key(self) -> str | None:
        for c in self.columns:
            if c.dist_key:
                return c.name
        return None

    def to_struct_type(self) -> T.StructType:
        return T.StructType([c.to_struct_field() for c in self.columns])

    def apply_physical_layout(self, df: DataFrame, num_partitions: int | None = None) -> DataFrame:
        """distkey → repartition (co-locates merge joins on the key);
        sortkey → sortWithinPartitions (range-pruning-friendly files).
        Mirrors redshift.go:283-327 sortkey/distkey DDL."""
        out = df
        if self.dist_key:
            out = (
                out.repartition(num_partitions, F.col(self.dist_key))
                if num_partitions
                else out.repartition(F.col(self.dist_key))
            )
        if self.sort_keys:
            out = out.sortWithinPartitions(*self.sort_keys)
        return out


