"""Schema-drift detection and self-healing union (operators.schema_evolution)."""

from __future__ import annotations

from pyspark.sql import types as T

from self_healing_data_pipeline_spark.operators.schema_evolution import (
    conform,
    diff_schemas,
    evolve_union,
    evolved_schema,
    widen_type,
)


def test_widen_type_lattice():
    assert widen_type(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen_type(T.LongType(), T.DoubleType()) == T.DoubleType()
    assert widen_type(T.FloatType(), T.IntegerType()) == T.FloatType()
    assert widen_type(T.DateType(), T.TimestampType()) == T.TimestampType()
    assert widen_type(T.StringType(), T.StringType()) == T.StringType()
    # conflicting branches fall back to string, never silently truncate
    assert widen_type(T.DateType(), T.LongType()) == T.StringType()
    assert widen_type(T.StringType(), T.LongType()) == T.StringType()


def test_widen_decimal_precision():
    got = widen_type(T.DecimalType(10, 2), T.DecimalType(12, 4))
    assert got == T.DecimalType(12, 4)  # whole=8+.4 -> (12,4)
    assert widen_type(T.DecimalType(18, 0), T.IntegerType()) == T.DecimalType(18, 0)


def test_widen_decimal_overflow_falls_back_to_string():
    """whole+scale > 38 can't be held losslessly — capping precision at
    38 would let non-ANSI casts overflow big values to NULL (silent data
    loss); the documented top is string (advice-verified)."""
    # decimal(38,0) vs decimal(10,9): needs 38 integral + 9 fractional
    assert widen_type(T.DecimalType(38, 0), T.DecimalType(10, 9)) == T.StringType()
    # boundary: exactly 38 digits still fits
    assert widen_type(T.DecimalType(30, 0), T.DecimalType(9, 8)) == T.DecimalType(38, 8)


def test_widen_decimal_vs_int_grows_integral_digits():
    """A small decimal vs a wider integer must grow to hold the integer's
    digits (bigint needs 19), string when that exceeds 38."""
    assert widen_type(T.DecimalType(5, 2), T.LongType()) == T.DecimalType(21, 2)
    assert widen_type(T.IntegerType(), T.DecimalType(5, 2)) == T.DecimalType(12, 2)
    assert widen_type(T.DecimalType(30, 20), T.LongType()) == T.StringType()


def test_diff_schemas_classifies_all_drift_kinds():
    old = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("gone", T.StringType()),
            T.StructField("bad", T.DateType()),
        ]
    )
    new = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bad", T.LongType()),
            T.StructField("fresh", T.DoubleType()),
        ]
    )
    by_col = {e.column: e for e in diff_schemas(old, new)}
    assert by_col["id"].kind == "widened" and by_col["id"].resolved_type == "bigint"
    assert by_col["gone"].kind == "removed"
    assert by_col["fresh"].kind == "added"
    assert by_col["bad"].kind == "incompatible"
    assert by_col["bad"].resolved_type == "string"


def test_evolved_schema_orders_contract_columns_first():
    old = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])
    new = T.StructType([T.StructField("c", T.DoubleType()), T.StructField("a", T.LongType())])
    got = evolved_schema(old, new)
    assert [f.name for f in got.fields] == ["a", "b", "c"]
    assert got["a"].dataType == T.LongType()


def test_evolve_union_survives_column_order_drift(spark):
    # same columns, reordered — positional UNION ALL would silently
    # misalign; unionByName must not
    h = spark.createDataFrame([(1, "x")], "id int, tag string")
    i = spark.createDataFrame([("y", 2)], "tag string, id int")
    out, events = evolve_union(h, i)
    assert events == []
    assert {(r["id"], r["tag"]) for r in out.collect()} == {(1, "x"), (2, "y")}


def test_evolve_union_widens_and_null_fills(spark):
    h = spark.createDataFrame([(1, 10)], "id int, old_col int")
    i = spark.createDataFrame([(2**40, 1.5)], "id long, new_col double")
    out, events = evolve_union(h, i)
    assert dict(out.dtypes) == {
        "id": "bigint",
        "old_col": "int",
        "new_col": "double",
    }
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["old_col"] == 10 and rows[1]["new_col"] is None
    assert rows[2**40]["old_col"] is None and rows[2**40]["new_col"] == 1.5
    kinds = {e.column: e.kind for e in events}
    assert kinds == {"id": "widened", "old_col": "removed", "new_col": "added"}


def test_evolve_union_plans_no_shuffle(spark):
    import io
    from contextlib import redirect_stdout

    h = spark.createDataFrame([(1, "a")], "id int, s string")
    i = spark.createDataFrame([(2,)], "id long")
    out, _ = evolve_union(h, i)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_conform_casts_and_fills(spark):
    target = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    df = conform(spark.createDataFrame([(7,)], "id int"), target)
    assert dict(df.dtypes) == {"id": "bigint", "v": "double"}
    assert df.collect()[0]["v"] is None


def test_evolve_union_dotted_spaced_and_nested_names(spark):
    """Names are identifiers, never column paths: ``a.b`` is one column
    (not field ``b`` of ``a``), and a struct field named ``x y`` survives
    the cast to the evolved struct type."""
    h = spark.createDataFrame(
        [(1, "p", (5,))], "`a.b` int, `c d` string, s struct<`x y`: int>"
    )
    i = spark.createDataFrame([(2**40, (6,))], "`a.b` long, s struct<`x y`: int>")
    out, events = evolve_union(h, i)
    assert out.columns == ["a.b", "c d", "s"]
    assert dict(out.dtypes)["a.b"] == "bigint"
    assert out.schema["s"].dataType.names == ["x y"]
    rows = sorted((r[0], r[1], r[2][0]) for r in out.collect())
    assert rows == [(1, "p", 5), (2**40, None, 6)]
    assert {e.column: e.kind for e in events} == {"a.b": "widened", "c d": "removed"}
