"""Catalog data model: the catalog is itself data (SURVEY.md §1.1).

Mirrors the reference's metadata shapes —
``ColumnAnalysis {columnName, originalType?, inferredSqlType, semanticType,
description, qualityIssues[]}`` (``automated-data-catalog-&-etl/types.ts:2-9``)
and ``TableSchema {tableName, columns[]}`` (``types.ts:11-14``) — as Python
dataclasses that round-trip into Spark ``StructField.metadata``, so the
catalog travels with the DataFrame schema itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# Reference type lattice (geminiService.ts:61) → Spark types (SURVEY.md §1.2).
SQL_TO_SPARK: dict[str, T.DataType] = {
    "TEXT": T.StringType(),
    "INTEGER": T.LongType(),
    "REAL": T.DoubleType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
    "BOOLEAN": T.BooleanType(),
    "BLOB": T.BinaryType(),
}
SPARK_TO_SQL = {
    "string": "TEXT",
    "bigint": "INTEGER",
    "int": "INTEGER",
    "smallint": "INTEGER",
    "tinyint": "INTEGER",
    "double": "REAL",
    "float": "REAL",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",  # the engine's readers emit NTZ
    "boolean": "BOOLEAN",
    "binary": "BLOB",
}


def sql_type_of(spark_simple_string: str) -> str:
    """Reference-lattice SQL type for a Spark simpleString, with the
    parameterized families handled (decimal(p,s) → REAL; unknown → TEXT,
    the geminiService.ts:61 fallback rule)."""
    if spark_simple_string.startswith("decimal"):
        return "REAL"
    return SPARK_TO_SQL.get(spark_simple_string, "TEXT")


@dataclass
class ColumnAnalysis:
    column_name: str
    inferred_sql_type: str  # one of SQL_TO_SPARK keys; TEXT on mixed/unknown
    semantic_type: str = "unknown"
    description: str = ""
    quality_issues: list[str] = field(default_factory=list)
    original_type: str | None = None

    def to_struct_field(self) -> T.StructField:
        dtype = SQL_TO_SPARK.get(self.inferred_sql_type.upper(), T.StringType())
        return T.StructField(
            self.column_name,
            dtype,
            nullable=True,
            metadata={
                "semanticType": self.semantic_type,
                "description": self.description,
                "qualityIssues": self.quality_issues,
                "originalType": self.original_type or "",
            },
        )


@dataclass
class TableSchema:
    table_name: str
    columns: list[ColumnAnalysis]


def schema_to_struct(schema: TableSchema) -> T.StructType:
    """Freeze a reviewed profile into an explicit StructType contract
    (the reference freezes via LLM-generated DDL, geminiService.ts:101-147;
    here the schema IS the DDL)."""
    return T.StructType([c.to_struct_field() for c in schema.columns])


def struct_to_ddl(table_name: str, struct: T.StructType) -> str:
    """Render CREATE TABLE DDL from a StructType — the reviewable artifact
    the reference shows its human gate (App.tsx:246-254)."""
    cols = ",\n  ".join(
        f"{_quoted(f.name)} {sql_type_of(f.dataType.simpleString())}"
        for f in struct.fields
    )
    return f"CREATE TABLE {_quoted(table_name)} (\n  {cols}\n);"


def _quoted(name: str) -> str:
    """``name`` as a double-quoted SQL identifier."""
    return '"' + name.replace('"', '""') + '"'
