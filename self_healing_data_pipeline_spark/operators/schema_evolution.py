"""Schema-drift detection and self-healing schema evolution.

The reference's premise (`APP/README.md:1-7` — "self-healing data
pipeline") is that ingest survives schema changes instead of crashing:
a new column appears, a column disappears, or a type widens, and the
pipeline adapts. Here that is deterministic Spark logic, not an LLM
call: diff the schemas, widen along Spark's numeric lattice, align both
sides, and union — every decision auditable in the returned drift
report.

Scale notes: everything in this module is schema-level (driver-side
metadata on StructTypes) except ``evolve_union`` itself, which plans
narrow per-row projections (null-fill + cast) on each side of a
``unionByName`` — no shuffle, no data movement beyond the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.plans.profiler import _ident

# Widening lattice: a type may move rightward only. Anything not on the
# lattice (or conflicting branches, e.g. date vs bigint) falls back to
# string — lossless for parquet-born data and always castable.
_NUMERIC_ORDER = ["tinyint", "smallint", "int", "bigint", "float", "double"]
_TIME_ORDER = ["date", "timestamp_ntz", "timestamp"]
# Pure-Python name→type table (T._parse_datatype_string needs a live JVM;
# schema logic must work driver-side before any session exists).
_BY_NAME: dict[str, T.DataType] = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "timestamp": T.TimestampType(),
}


def widen_type(a: T.DataType, b: T.DataType) -> T.DataType:
    """Smallest common type both inputs cast to losslessly (string as top)."""
    if a == b:
        return a
    an, bn = a.simpleString(), b.simpleString()
    for order in (_NUMERIC_ORDER, _TIME_ORDER):
        if an in order and bn in order:
            return _BY_NAME[order[max(order.index(an), order.index(bn))]]
    if an.startswith("decimal") and bn.startswith("decimal"):
        ap, as_ = a.precision, a.scale  # type: ignore[attr-defined]
        bp, bs = b.precision, b.scale  # type: ignore[attr-defined]
        scale = max(as_, bs)
        whole = max(ap - as_, bp - bs)
        if whole + scale > 38:
            # No decimal holds both extremes losslessly (e.g. decimal(38,0)
            # vs decimal(10,9) would need 29+9 digits); capping precision
            # at 38 silently overflows large values to null under non-ANSI
            # casts. Lossless top is string, same as every other
            # incompatible pair.
            return T.StringType()
        return T.DecimalType(whole + scale, scale)
    if an.startswith("decimal") and bn in _NUMERIC_ORDER[:4]:
        return _widen_decimal_int(a, bn)
    if bn.startswith("decimal") and an in _NUMERIC_ORDER[:4]:
        return _widen_decimal_int(b, an)
    return T.StringType()


# Integral digits each integer type may need (Spark's DecimalType.forType).
_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}


def _widen_decimal_int(dec: T.DecimalType, int_name: str) -> T.DataType:
    """Smallest decimal holding both a decimal and an integer type, string
    if that would exceed 38 digits (e.g. decimal(30,20) vs bigint)."""
    whole = max(dec.precision - dec.scale, _INT_DIGITS[int_name])
    if whole + dec.scale > 38:
        return T.StringType()
    return T.DecimalType(whole + dec.scale, dec.scale)


@dataclass(frozen=True)
class DriftEvent:
    column: str
    kind: str  # added | removed | widened | incompatible
    old_type: str | None
    new_type: str | None
    resolved_type: str


def diff_schemas(old: T.StructType, new: T.StructType) -> list[DriftEvent]:
    """Structured drift report between a frozen schema and an incoming one.

    ``added``/``removed`` are relative to the OLD schema (the pipeline's
    contract); type changes resolve via :func:`widen_type`, classified
    ``widened`` when the resolution equals the new type or a numeric/time
    widening, else ``incompatible`` (string fallback).
    """
    old_by = {f.name: f.dataType for f in old.fields}
    new_by = {f.name: f.dataType for f in new.fields}
    events: list[DriftEvent] = []
    for name, ntype in new_by.items():
        if name not in old_by:
            events.append(
                DriftEvent(name, "added", None, ntype.simpleString(), ntype.simpleString())
            )
    for name, otype in old_by.items():
        if name not in new_by:
            events.append(
                DriftEvent(name, "removed", otype.simpleString(), None, otype.simpleString())
            )
            continue
        ntype = new_by[name]
        if otype != ntype:
            resolved = widen_type(otype, ntype)
            kind = "incompatible" if resolved == T.StringType() else "widened"
            events.append(
                DriftEvent(
                    name,
                    kind,
                    otype.simpleString(),
                    ntype.simpleString(),
                    resolved.simpleString(),
                )
            )
    return events


def evolved_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union of both schemas with conflicting types widened.

    Column order: the old schema's columns first (contract stability for
    downstream readers), then newly added ones in their incoming order.
    """
    new_by = {f.name: f.dataType for f in new.fields}
    fields: list[T.StructField] = []
    for f in old.fields:
        t = widen_type(f.dataType, new_by[f.name]) if f.name in new_by else f.dataType
        fields.append(T.StructField(f.name, t, True))
    seen = {f.name for f in old.fields}
    for f in new.fields:
        if f.name not in seen:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project ``df`` onto ``target``: cast matching columns, null-fill
    missing ones. Narrow (per-row) — no shuffle. One ``selectExpr`` of
    quoted identifiers, so a name like ``a.b`` is a column, not a path."""
    have = {f.name for f in df.schema.fields}
    return df.selectExpr(
        *(
            f"CAST({_ident(f.name) if f.name in have else 'NULL'}"
            f" AS {_sql_type(f.dataType)}) AS {_ident(f.name)}"
            for f in target.fields
        )
    )


def _sql_type(dt: T.DataType) -> str:
    """``dt`` as a SQL type; unlike ``simpleString`` it quotes struct
    field names, so a field named ``x y`` parses."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{_ident(f.name)}:{_sql_type(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


def evolve_union(
    history: DataFrame, incoming: DataFrame
) -> tuple[DataFrame, list[DriftEvent]]:
    """Self-healing union: widen/align both sides and concatenate.

    Returns (unioned frame in the evolved schema, drift report). The
    union is by NAME, so column-order drift — the classic silent
    corruptor of positional UNION ALL — cannot misalign data.
    """
    events = diff_schemas(history.schema, incoming.schema)
    target = evolved_schema(history.schema, incoming.schema)
    return (
        conform(history, target).unionByName(conform(incoming, target)),
        events,
    )
