"""Deterministic data profiler — replaces the reference's LLM schema step.

The reference sends a 50-row sample to Gemini and gets back per-column
SQL type, semantic type, and quality issues
(``automated-data-catalog-&-etl/services/geminiService.ts:50-99``; sample
size ``constants.ts:5``; quality categories ``geminiService.ts:64``:
nulls, mixed types, inconsistent formatting, outliers, high cardinality).

This profiler computes the same ``ColumnAnalysis`` output with aggregates:
one full-data pass (all profiling measures in a single hash aggregate — at
100 TB this is a scan + constant-size state per column, no shuffle of raw
rows), plus the TEXT-on-mixed fallback rule from ``geminiService.ts:61``.

Distinct counts (the "High cardinality" issue) come from Spark's built-in
DataSketches HLL sketch (``hll_sketch_agg`` at lgK 13, nominal relative
error 1.04/sqrt(2**13) ≈ 1.15 %), not from HLL++ (``approx_count_distinct``).
HLL++ at rsd 0.02 keeps its 4,096 registers as ~410 ``long`` fields of
aggregation buffer per column, a fixed ~1 s of executor CPU per profile
whatever the input size; the sketch is one binary buffer per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.plans.catalog import (
    ColumnAnalysis,
    TableSchema,
    sql_type_of,
)

# lgK of the distinct-count sketch: 2**13 registers, ~1.15 % nominal error.
HLL_LG_K = 13

# Input types ``hll_sketch_agg`` accepts as they are; others are cast to string.
_HLL_TYPES = ("int", "bigint", "string", "binary")

# Regexes for string-typed columns: can the column be promoted?
_INT_RE = r"^\s*[+-]?\d+\s*$"
_REAL_RE = r"^\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\s*$"
_BOOL_RE = r"^\s*(true|false|TRUE|FALSE|True|False)\s*$"
_DATE_RE = r"^\s*\d{4}-\d{2}-\d{2}\s*$"
_TS_RE = r"^\s*\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?([Zz]|[+-]\d{2}:?\d{2})?\s*$"

_SEMANTIC_PATTERNS = {
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    "url": r"^https?://",
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "phone": r"^\+?[0-9 ()\-]{7,20}$",
}


def _distinct_estimate(col, kind: str):
    """Approximate distinct non-null count of one column.

    The sketch is passed through ``hll_union`` with itself before the
    estimate: a sketch built in one partition is estimated with the
    insertion-order-dependent HIP estimator, a merged one with the
    register-only composite estimator, so without the union the count
    changes with the partitioning. Nulls are skipped by the sketch, as by
    HLL++ (so are empty strings and binaries, which DataSketches ignores).
    """
    if kind not in _HLL_TYPES:
        col = col.cast("string")
    sketch = F.hll_sketch_agg(col, HLL_LG_K)
    return F.hll_sketch_estimate(F.hll_union(sketch, sketch))


def first_pass_aggregate(df: DataFrame) -> DataFrame:
    """The profiler's full-measure pass as a one-row aggregate frame —
    exposed (rather than inlined in :func:`profile_dataframe`) so plan
    tests can assert the ONE-scan claim holds at width: ~6 aggregate
    expressions per column is constant-size hash-agg state, and the
    physical plan must stay a single scan regardless of column count.

    The distinct count is an HLL sketch (lgK 13, ~1.15 % nominal error,
    one binary buffer field per column) rather than HLL++, whose ~410
    register fields per column cost a fixed ~1 s per profile; see
    :func:`_distinct_estimate` for why the estimate is partition-invariant.
    """
    aggs = [F.count(F.lit(1)).alias("__total")]
    for f_ in df.schema.fields:
        c, kind = f_.name, f_.dataType.simpleString()
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("bigint")).alias(f"nulls__{c}"))
        aggs.append(_distinct_estimate(col, kind).alias(f"card__{c}"))
        if kind == "string":
            s = F.when(col.isNotNull(), col)
            for tag, rx in (
                ("int", _INT_RE),
                ("real", _REAL_RE),
                ("bool", _BOOL_RE),
                ("date", _DATE_RE),
                ("ts", _TS_RE),
            ):
                aggs.append(
                    F.sum(s.rlike(rx).cast("bigint")).alias(f"{tag}__{c}")
                )
            for sem, rx in _SEMANTIC_PATTERNS.items():
                aggs.append(
                    F.sum(s.rlike(rx).cast("bigint")).alias(f"sem_{sem}__{c}")
                )
            aggs.append(F.sum(F.lit(0)).alias(f"out__{c}"))
        elif kind in ("double", "float", "bigint", "int", "smallint", "tinyint"):
            mean = F.avg(col)
            std = F.stddev_samp(col)
            aggs.append(mean.alias(f"mean__{c}"))
            aggs.append(std.alias(f"std__{c}"))
        else:
            aggs.append(F.sum(F.lit(0)).alias(f"out__{c}"))
    return df.agg(*aggs)


def profile_dataframe(
    df: DataFrame,
    table_name: str = "uploaded_data",
    outlier_sigma: float = 4.0,
    high_cardinality_ratio: float = 0.9,
) -> TableSchema:
    """Profile every column in one aggregate pass → ``TableSchema``.

    Quality-issue strings mirror the reference's categories 1:1 so a user
    of the reference sees the same vocabulary.
    """
    row = first_pass_aggregate(df).collect()[0].asDict()
    total = row["__total"]

    # Second cheap pass only for numeric outlier counts (needs mean/std).
    out_aggs = []
    for f_ in df.schema.fields:
        c, kind = f_.name, f_.dataType.simpleString()
        if kind in ("double", "float", "bigint", "int", "smallint", "tinyint"):
            mean, std = row.get(f"mean__{c}"), row.get(f"std__{c}")
            if mean is not None and std:
                lo, hi = mean - outlier_sigma * std, mean + outlier_sigma * std
                out_aggs.append(
                    F.sum(((F.col(c) < lo) | (F.col(c) > hi)).cast("bigint")).alias(
                        f"out__{c}"
                    )
                )
    if out_aggs:
        row.update(df.agg(*out_aggs).collect()[0].asDict())

    columns = []
    for f_ in df.schema.fields:
        c, kind = f_.name, f_.dataType.simpleString()
        nulls = row.get(f"nulls__{c}") or 0
        non_null = total - nulls
        card = row.get(f"card__{c}") or 0
        issues: list[str] = []
        if nulls > 0:
            issues.append("Contains null values")
        if total and card >= high_cardinality_ratio * max(non_null, 1) and card > 100:
            issues.append("High cardinality")
        out_n = row.get(f"out__{c}") or 0
        if out_n:
            issues.append("Possible outliers detected")

        semantic = "unknown"
        sql_type = sql_type_of(kind)
        if kind == "string" and non_null > 0:
            matches = {
                tag: row.get(f"{tag}__{c}") or 0
                for tag in ("int", "real", "bool", "date", "ts")
            }
            # Promote only if EVERY non-null value matches one lattice type;
            # otherwise TEXT (the geminiService.ts:61 mixed→TEXT rule).
            if matches["int"] == non_null:
                sql_type = "INTEGER"
            elif matches["real"] == non_null:
                sql_type = "REAL"
            elif matches["bool"] == non_null:
                sql_type = "BOOLEAN"
            elif matches["date"] == non_null:
                sql_type = "DATE"
            elif matches["ts"] == non_null:
                sql_type = "TIMESTAMP"
            else:
                sql_type = "TEXT"
                partial = [t for t, n in matches.items() if 0 < n < non_null]
                if partial:
                    issues.append("Mixed data types detected")
            for sem in _SEMANTIC_PATTERNS:
                n_sem = row.get(f"sem_{sem}__{c}") or 0
                if n_sem == non_null:
                    semantic = sem
                elif 0 < n_sem < non_null and sem in ("email", "url"):
                    semantic = sem
                    issues.append("Inconsistent formatting")
        columns.append(
            ColumnAnalysis(
                column_name=c,
                inferred_sql_type=sql_type,
                semantic_type=semantic,
                description=f"{kind} column, {non_null}/{total} non-null",
                quality_issues=issues,
                original_type=kind,
            )
        )
    return TableSchema(table_name=table_name, columns=columns)
