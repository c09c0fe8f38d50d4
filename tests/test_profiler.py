"""Profiler + catalog tests: the deterministic replacement for the
reference's LLM schema-analysis step, including the TEXT-on-mixed rule
and quality-issue categories (geminiService.ts:61,64)."""

from __future__ import annotations

from self_healing_data_pipeline_spark.plans.catalog import (
    ColumnAnalysis,
    TableSchema,
    schema_to_struct,
    struct_to_ddl,
)
from self_healing_data_pipeline_spark.plans.profiler import (
    HLL_LG_K,
    first_pass_aggregate,
    profile_dataframe,
)


def test_profile_messy_columns(spark):
    rows = [
        ("1", "Alice", "alice@example.com", "2024-01-15", "1203.50", "true"),
        ("2", "Bob", None, "2024-02-01", "-50.25", "false"),
        ("3", "Carol", "carol@example", "2024-02-30", "abc", "true"),
        (None, "Dave", "dave@example.com", None, "0", "maybe"),
    ]
    df = spark.createDataFrame(
        rows, "cust_id string, name string, email string, signup string,"
        " balance string, active string"
    )
    schema = profile_dataframe(df, "messy")
    by_name = {c.column_name: c for c in schema.columns}

    assert by_name["cust_id"].inferred_sql_type == "INTEGER"
    assert "Contains null values" in by_name["cust_id"].quality_issues
    assert by_name["balance"].inferred_sql_type == "TEXT"  # mixed → TEXT
    assert "Mixed data types detected" in by_name["balance"].quality_issues
    assert by_name["active"].inferred_sql_type == "TEXT"  # true/false/maybe
    assert by_name["email"].semantic_type == "email"
    assert "Inconsistent formatting" in by_name["email"].quality_issues
    # 2024-02-30 still matches the date SHAPE; shape-wise consistent
    assert by_name["signup"].inferred_sql_type == "DATE"


def test_profile_numeric_outliers(spark):
    vals = [(float(i),) for i in range(100)] + [(10_000.0,)]
    df = spark.createDataFrame(vals, "x double")
    schema = profile_dataframe(df, "t")
    assert "Possible outliers detected" in schema.columns[0].quality_issues


def test_freeze_and_ddl_roundtrip():
    schema = TableSchema(
        "orders_q1",
        [
            ColumnAnalysis("id", "INTEGER"),
            ColumnAnalysis("amount", "REAL"),
            ColumnAnalysis("note", "TEXT", quality_issues=["Contains null values"]),
        ],
    )
    struct = schema_to_struct(schema)
    assert [f.dataType.simpleString() for f in struct.fields] == [
        "bigint",
        "double",
        "string",
    ]
    assert struct.fields[2].metadata["qualityIssues"] == ["Contains null values"]
    ddl = struct_to_ddl("orders_q1", struct)
    assert ddl.startswith('CREATE TABLE "orders_q1"')
    assert '"amount" REAL' in ddl


def _partial_aggregate_width(agg) -> int:
    """Output fields (the aggregation buffer) of the partial aggregate:
    the deepest aggregate node of ``agg``'s physical plan."""
    node, partial = agg._jdf.queryExecution().sparkPlan(), None
    while not node.children().isEmpty():
        if node.nodeName().endswith("Aggregate"):
            partial = node
        node = node.children().head()
    assert partial.aggregateExpressions().head().mode().toString() == "Partial"
    return partial.output().size()


def test_one_scan_plan_at_width(spark):
    """r7 verdict task 8: the one-scan claim must hold at 100+ columns
    (~6 aggregate expressions per column). 120 columns mixing string /
    double / long thirds -> the physical plan is a single scan feeding
    one aggregate chain: no joins, no repeated scans, no shuffle of raw
    rows (only the aggregate's one-row exchange). The partial aggregate's
    buffer stays at most 16 fields per column: a register-array distinct
    count (HLL++ keeps ~410 long fields per column) would break it."""
    cols = []
    for i in range(40):
        cols.append(f"CAST(id + {i} AS STRING) AS s{i}")
        cols.append(f"CAST(id * 1.5 + {i} AS DOUBLE) AS d{i}")
        cols.append(f"id + {i} AS l{i}")
    df = spark.range(100).selectExpr(*cols)
    assert len(df.columns) == 120
    agg = first_pass_aggregate(df)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan ExistingRDD") + plan.count(
        "LocalTableScan"
    ) + plan.count("Range (")
    assert n_scans == 1, plan[:2000]
    assert "Join" not in plan
    assert _partial_aggregate_width(agg) <= 16 * len(df.columns)
    # and it actually computes: one row, with the expected measure count
    row = agg.collect()[0].asDict()
    assert row["__total"] == 100
    assert sum(k.startswith("nulls__") for k in row) == 120


def _card(agg) -> dict:
    return {k: v for k, v in agg.collect()[0].asDict().items() if k.startswith("card__")}


def _sketch_frame(spark, n: int = 20_000):
    """All-distinct, 5-value, nullable and outlier-bearing columns; n is
    well past the sketch's exact (coupon-list) range at lgK 13."""
    return spark.range(n).selectExpr(
        "CAST(id AS STRING) AS uid",
        "CAST(id % 5 AS STRING) AS five",
        "CASE WHEN id % 4 = 0 THEN NULL ELSE id % 1000 END AS sparse",
        "CASE WHEN id = 7 THEN 1e9 ELSE CAST(id % 97 AS DOUBLE) END AS x",
    )


def test_profile_partition_invariant(spark):
    """The distinct estimate depends only on the merged registers, so the
    card measures and the whole profile are identical however the input
    is partitioned."""
    df = _sketch_frame(spark)
    cards, profiles = [], []
    for n in (1, 3, 8, 17):
        part = df.repartition(n)
        cards.append(_card(first_pass_aggregate(part)))
        profiles.append(profile_dataframe(part, "t"))
    assert all(c == cards[0] for c in cards), cards
    assert all(p == profiles[0] for p in profiles)


def test_sketch_error_within_bound(spark):
    n = 50_000
    card = _card(first_pass_aggregate(spark.range(n)))["card__id"]
    nominal = 1.04 / (2 ** HLL_LG_K) ** 0.5
    assert abs(card - n) / n <= 3 * nominal, card


def test_high_cardinality_flag(spark):
    by_name = {c.column_name: c for c in profile_dataframe(_sketch_frame(spark)).columns}
    assert "High cardinality" in by_name["uid"].quality_issues
    assert "High cardinality" not in by_name["five"].quality_issues


def test_distinct_count_skips_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (None, None, None), (2, "b", None), (2, None, None)],
        "i int, s string, z string",
    )
    assert _card(first_pass_aggregate(df)) == {"card__i": 2, "card__s": 2, "card__z": 0}


def test_profile_other_column_types(spark):
    """Types the sketch does not take directly are cast to string."""
    df = spark.sql(
        """SELECT * FROM VALUES
          (1.5D, 1.50BD, DATE'2024-01-01', TIMESTAMP_NTZ'2024-01-01 00:00:00',
           true, X'01', array(1, 2), CAST(1 AS SMALLINT)),
          (2.5D, 2.50BD, DATE'2024-01-02', TIMESTAMP_NTZ'2024-01-02 00:00:00',
           false, X'02', array(3), CAST(2 AS SMALLINT)),
          (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        AS t(d, dec, dt, tn, b, bin, arr, sm)"""
    )
    assert set(_card(first_pass_aggregate(df)).values()) == {2}
    profile = profile_dataframe(df)
    assert [c.column_name for c in profile.columns] == df.columns


def test_profile_quoted_names_and_values(spark):
    """Measures are SQL expression strings: column names with a space, a
    backtick, a dot and quotes are quoted identifiers, and values holding
    ``'`` or ``\\`` are data, never SQL text. The INTEGER and DATE
    promotions only hold if the ``\\d``/``\\s`` regex literals survive
    the SQL string escaping. (``F.col`` rejects ``a`b`` and reads ``x.y``
    as a struct field.)"""
    df = spark.createDataFrame(
        [
            ("O'Brien", "1", 1.5, "a@b.co", 10, "2024-01-01"),
            ("back\\slash", "22", 2.5, "o'neil@x.org", 20, "2024-02-29"),
            (None, " 3 ", 3.5, "it's\\mail@y.net", 30, None),
        ],
        "`first name` string, `a``b` string, `x.y` double, `it's` string,"
        " `say \"hi\"` bigint, `d\\d` string",
    )
    profile = profile_dataframe(df, "quoted")
    assert profile == TableSchema(
        "quoted",
        [
            ColumnAnalysis(
                "first name", "TEXT", "unknown", "string column, 2/3 non-null",
                ["Contains null values"], "string",
            ),
            ColumnAnalysis("a`b", "INTEGER", "unknown", "string column, 3/3 non-null",
                           [], "string"),
            ColumnAnalysis("x.y", "REAL", "unknown", "double column, 3/3 non-null",
                           [], "double"),
            ColumnAnalysis("it's", "TEXT", "email", "string column, 3/3 non-null",
                           [], "string"),
            ColumnAnalysis('say "hi"', "INTEGER", "unknown",
                           "bigint column, 3/3 non-null", [], "bigint"),
            # dates also fit the phone pattern (digits and dashes)
            ColumnAnalysis("d\\d", "DATE", "phone", "string column, 2/3 non-null",
                           ["Contains null values"], "string"),
        ],
    )
    row = first_pass_aggregate(df).collect()[0].asDict()
    assert row["card__first name"] == 2 and row["card__a`b"] == 3
    assert row["mean__x.y"] == 2.5 and row["sem_email__it's"] == 3


def _py4j_calls(fn) -> int:
    """py4j commands ``fn`` sends, counted as the benchmark's tracer counts
    them: every command except the releases of collected proxies, which
    follow Python's GC timing."""
    import py4j.clientserver
    import py4j.protocol

    conn = py4j.clientserver.ClientServerConnection
    send, calls = conn.send_command, [0]

    def counting_send(self, command, *a, **kw):
        if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(self, command, *a, **kw)

    conn.send_command = counting_send
    try:
        fn()
    finally:
        conn.send_command = send
    return calls[0]


def test_first_pass_build_py4j_bound(spark):
    """Building the 120-column aggregate is one ``selectExpr`` call: about
    one round trip per measure (801 here, for the list conversion) plus
    a constant. Building it node by node with Column functions took
    26,353 round trips."""
    cols = []
    for i in range(40):
        cols.append(f"CAST(id + {i} AS STRING) AS s{i}")
        cols.append(f"CAST(id * 1.5 + {i} AS DOUBLE) AS d{i}")
        cols.append(f"id + {i} AS l{i}")
    df = spark.range(100).selectExpr(*cols)
    df.schema  # resolved once, outside the count
    assert _py4j_calls(lambda: first_pass_aggregate(df)) <= 1000
