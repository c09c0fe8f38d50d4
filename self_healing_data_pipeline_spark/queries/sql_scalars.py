"""Scalar-function and UDF surface queries (SURVEY.md §2.8, §2.10).

String, date, math, array, map, JSON and regexp functions, explode and
unnest, null semantics, and the pandas / grouped-map / table-valued UDF
surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from self_healing_data_pipeline_spark.operators.dedup import normalize_text
from self_healing_data_pipeline_spark.operators.dedup import (
    NORMALIZE_TEXT_SQL as _NORM_SQL,
)
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


# Scalar-function surface queries (SURVEY.md §2.8, build step 4).


@query(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTRING(c_name, 1, 50) AS name_trunc,
           LENGTH(c_name) AS name_len,
           REGEXP_REPLACE(c_name, '[^a-zA-Z0-9_]', '_', 'g') AS name_ident,
           TRIM(CONCAT(c_name, ' ')) AS name_trim,
           CONCAT_WS('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           SPLIT_PART(c_name, '#', 1) AS name_prefix
    FROM customer
    """,
)
def q_string_funcs(spark, sf_dir):
    """String family: case, substring/truncate (reference DataTable.tsx:39
    50-char cut), regex sanitize (reference App.tsx:132 identifier rule),
    trim, concat, split."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 50).alias("name_trunc"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.regexp_replace("c_name", "[^a-zA-Z0-9_]", "_").alias("name_ident"),
        F.trim(F.concat(F.col("c_name"), F.lit(" "))).alias("name_trim"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias("seg_key"),
        F.split(F.col("c_name"), "#").getItem(0).alias("name_prefix"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
           STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month_start,
           CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch_start,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date_str
    FROM orders
    """,
)
def q_date_funcs(spark, sf_dir):
    """Date/time family: extract, trunc, diff, format (SURVEY.md §2.8)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


@query(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS discount_amt,
           ABS(l_extendedprice - 1000.0) AS dist_from_1000,
           CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS qty_bucket,
           CAST(CEIL(l_tax * 100.0) AS BIGINT) AS tax_pct_ceil,
           MOD(l_orderkey, 7) AS key_mod,
           POWER(CAST(l_quantity AS DOUBLE), 2.0) AS qty_sq,
           SQRT(CAST(l_quantity AS DOUBLE)) AS qty_sqrt
    FROM lineitem
    """,
)
def q_math_funcs(spark, sf_dir):
    """Math family. The price·discount product goes through exact decimal
    (ROUND on doubles is not portable: Spark rounds the shortest-decimal
    representation, DuckDB the binary value — they split on .xx5 cases)."""
    li = read_table(spark, sf_dir, "lineitem")
    from self_healing_data_pipeline_spark.functions.scalar import dec

    return li.select(
        "l_orderkey",
        "l_linenumber",
        (dec("l_extendedprice") * dec("l_discount")).cast("double").alias("discount_amt"),
        F.abs(F.col("l_extendedprice") - 1000.0).alias("dist_from_1000"),
        F.floor(F.col("l_quantity") / 10.0).cast("bigint").alias("qty_bucket"),
        F.ceil(F.col("l_tax") * 100.0).cast("bigint").alias("tax_pct_ceil"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.pow(F.col("l_quantity").cast("double"), 2.0).alias("qty_sq"),
        F.sqrt(F.col("l_quantity").cast("double")).alias("qty_sqrt"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS BIGINT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           CAST(embedding[64] AS DOUBLE) AS last_elem
    FROM embeddings
    """,
)
def q_array_funcs(spark, sf_dir):
    """Array family over the embedding column: size, element access.
    (Vector math lives in q_sim_* — functions.vector.)"""
    e = read_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.col("embedding").getItem(0).cast("double").alias("first_elem"),
        F.col("embedding").getItem(63).cast("double").alias("last_elem"),
    )


@query(
    "q_array_explode",
    oracle="""
    SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS elem
    FROM embeddings, generate_series(1, 4) AS t(i)
    """,
)
def q_array_explode(spark, sf_dir):
    """Array → rows (UNNEST/posexplode) with position, over the first 4
    embedding components (§2.8 array family, the lateral-view workhorse)."""
    e = read_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "elem")
    ).select("vec_id", "pos", F.col("elem").cast("double").alias("elem"))


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def q_json_funcs(spark, sf_dir):
    """Semi-structured extraction from a JSON string column (the reference
    keeps JSON values opaque — dataProcessingService.ts:19-27; we extract
    with get_json_object, no UDF)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


@query(
    "q_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 100000 THEN 'large'
                WHEN o_totalprice >= 10000 THEN 'medium'
                ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label
    FROM orders
    """,
)
def q_conditional(spark, sf_dir):
    """CASE / COALESCE / NULLIF."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 100000, "large")
        .when(F.col("o_totalprice") >= 10000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_label"),
    )


@query(
    "q_regexp_funcs",
    oracle="""
    SELECT doc_id,
           REGEXP_EXTRACT(text, '([a-z]{6,})', 1) AS first_long_word,
           LENGTH(REGEXP_REPLACE(text, '[aeiou]', '', 'g')) AS consonant_len,
           REGEXP_MATCHES(text, '\\d') AS has_digit,
           LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g'))
             AS n_spaces
    FROM documents
    ORDER BY doc_id
    """,
)
def q_regexp_funcs(spark, sf_dir):
    """Regexp family (the structured-extraction workhorses the reference's
    generated ETL SQL leans on): first capture-group extract, global
    replace, boolean match, and occurrence counting via replace-length
    delta (the one formulation whose semantics are byte-identical across
    engines — REGEXP_COUNT flavors disagree on overlap/empty matches).
    All four run JVM-side inside codegen; no UDF."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]{6,})", 1).alias("first_long_word"),
        F.length(F.regexp_replace("text", "[aeiou]", ""))
        .cast("bigint")
        .alias("consonant_len"),
        F.col("text").rlike("\\d").alias("has_digit"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", ""))
        )
        .cast("bigint")
        .alias("n_spaces"),
    ).orderBy("doc_id")


@query(
    "q_pandas_udf",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 0.07 + 5.0 AS fee
    FROM orders
    """,
)
def q_pandas_udf(spark, sf_dir):
    """Vectorized (Arrow) pandas UDF — the sanctioned slow path for logic
    Catalyst can't express (reference twin: LLM-generated Python transform
    scripts, geminiService.ts:150-159). Checked against a SQL oracle
    (same IEEE multiply-add on both sides → bit-identical doubles)."""

    @pandas_udf("double")
    def fee_udf(price: pd.Series) -> pd.Series:
        return price * 0.07 + 5.0

    o = read_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", fee_udf(F.col("o_totalprice")).alias("fee"))


# ONE dialect-neutral ANSI string, executed verbatim by BOTH engines —
# the direct twin of the reference's executeSql choke point
# (pgliteService.ts:36-49): whatever SQL the (LLM) layer emits, the engine
# runs it through the same single entry.
_PASSTHROUGH_SQL = """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
"""


@query("q_sql_passthrough", oracle=_PASSTHROUGH_SQL)
def q_sql_passthrough(spark, sf_dir):
    """TPC-H-Q3-shaped revenue query executed as a raw SQL string — the
    reference's arbitrary-SQL surface (§2.1). The oracle is the SAME
    string: one dialect-neutral statement, two engines."""
    from self_healing_data_pipeline_spark.sql import (
        execute_sql,
        register_fixture_views,
    )

    register_fixture_views(
        spark, sf_dir, tables=("orders", "customer", "lineitem")
    )
    return execute_sql(spark, _PASSTHROUGH_SQL)


@query(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           ARRAY_TO_STRING(json_keys(props), ',') AS prop_keys,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def q_map_funcs(spark, sf_dir):
    """Map-typed semi-structured access: JSON string → MapType →
    map_keys / element lookup (§2.8 map family)."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        m.getItem("k").alias("k_val"),
    )


@query(
    "q_date_series",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    ), days AS (
      SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n FROM orders GROUP BY 1
    )
    SELECT CAST(days.day AS VARCHAR) AS day,
           COALESCE(daily.n, 0) AS n_orders
    FROM days LEFT JOIN daily ON days.day = daily.day
    """,
)
def q_date_series(spark, sf_dir):
    """Calendar gap-fill: generate every day in the data's date range
    (sequence + explode — engine-side, no driver loop) and left-join the
    daily counts so zero-order days appear explicitly. The generated spine
    is broadcast (|days| rows) against the aggregated side (|days| rows),
    never against raw orders."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
    )


# UDF/UDAF/UDTF surface queries (SURVEY.md §2.10) — one oracle-checked
# query per Python-extension API beyond the scalar ``pandas_udf`` already
# covered by ``q_pandas_udf``:
#
# - grouped-aggregate ``pandas_udf`` (vectorized UDAF; partial-agg-free, so
#   keep groups small — here |custkey| groups of ~15 rows),
# - grouped-map ``applyInPandas`` (whole-group transform as one pandas
#   frame),
# - Python UDTF (arrow-optimized table function: one input row → many
#   output rows).
#
# Determinism rule for all three: Python floats are IEEE doubles and +,-,*,/
# are exactly specified, but SUM ORDER is not — any float accumulation
# inside a kernel first converts 2-decimal values to exact integer cents
# (int64) so the sum is order-insensitive and matches the oracle's decimal
# arithmetic bit-for-bit.
#
# Scale notes: grouped-agg and grouped-map shuffle once on the group key and
# stream one Arrow batch per group — executor memory is bounded by the
# LARGEST GROUP, which is why the group keys here are high-cardinality keys
# (customer), never low-cardinality ones (status). The UDTF is a narrow map:
# no shuffle, rows fan out in place.


@query(
    "q_udf_grouped_agg",
    oracle="""
    SELECT o_custkey % 256 AS cust_bucket,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(6 - CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)
                           AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(6 - CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT))
                    AS DOUBLE) AS weighted_price
    FROM orders
    GROUP BY 1
    """,
)
def q_udf_grouped_agg(spark, sf_dir):
    """Vectorized UDAF (GROUPED_AGG pandas_udf): priority-weighted mean
    order price per customer bucket (weight 5 for '1-URGENT' down to 1
    for '5-LOW'). The kernel sums exact integer cents (int64), so the
    result is independent of row order within the group and matches the
    oracle's decimal arithmetic exactly.

    The group key is a 256-way bucket of the customer key, NOT the raw
    key: every GROUPED_AGG group costs one Python invocation, so
    per-customer grouping at scale means millions of tiny Python calls
    (measured 15s at sf0.1 vs ~1s bucketed). Bucketing keeps enough
    groups for full parallelism while amortizing the per-call overhead —
    the sizing rule for any grouped Python UDF."""
    from pyspark.sql.functions import pandas_udf

    def _weighted(price: pd.Series, weight: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        w = weight.astype("int64")
        return float(int((cents * w).sum()) / 100.0 / int(w.sum()))

    weighted = pandas_udf(_weighted, "double", F.PandasUDFType.GROUPED_AGG)

    o = read_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("cust_bucket"),
        "o_totalprice",
        (
            F.lit(6) - F.substring("o_orderpriority", 1, 1).cast("bigint")
        ).alias("w"),
    )
    return o.groupBy("cust_bucket").agg(
        weighted("o_totalprice", "w").alias("weighted_price")
    )


@query(
    "q_udf_grouped_map",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment,
             MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS seg_min
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) - m.seg_min AS DOUBLE)
             AS bal_above_min
    FROM customer c JOIN m USING (c_mktsegment)
    """,
)
def q_udf_grouped_map(spark, sf_dir):
    """Grouped-map applyInPandas: re-base each customer's balance on its
    market segment's minimum — the whole-group-as-one-frame API (the
    shape used for per-group normalization / model scoring). All
    arithmetic happens in exact integer cents inside the kernel; only the
    final cent difference converts to double, so the oracle's decimal
    subtraction agrees bit-for-bit (a double mean would round differently
    between engines)."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )

    def rebase(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["c_acctbal"] * 100).round().astype("int64")
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "bal_above_min": (cents - cents.min()) / 100.0,
            }
        )

    return c.groupBy("c_mktsegment").applyInPandas(
        rebase,
        schema="c_custkey bigint, c_mktsegment string, bal_above_min double",
    )


@query(
    "q_udtf_sentences",
    oracle="""
    WITH parts AS (
      SELECT doc_id, string_split(text, '.') AS ps FROM documents
    ), ex AS (
      SELECT doc_id, UNNEST(generate_series(1, len(ps))) AS i, ps
      FROM parts
    )
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS sent_idx,
           CAST(LENGTH(TRIM(ps[i])) AS BIGINT) AS sent_chars
    FROM ex
    WHERE LENGTH(TRIM(ps[i])) > 0
    """,
)
def q_udtf_sentences(spark, sf_dir):
    """Python UDTF (table function): one document row fans out to one row
    per '.'-delimited sentence with its index and trimmed length — the
    §2.10 UDTF surface on a real corpus task (sentence segmentation for
    chunk-level scoring). Narrow map, no shuffle; the oracle mirrors the
    exact split-trim-filter semantics with DuckDB list functions."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: bigint, sent_chars: bigint")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for i, part in enumerate(text.split(".")):
                # strip(' ') not strip(): DuckDB TRIM removes spaces only,
                # and the oracle comparison is bit-exact — both engines
                # must share one trimming definition.
                t = part.strip(" ")
                if t:
                    yield i, len(t)

    d = read_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("sentence_split", SentenceSplit)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sent_chars
        FROM __udtf_docs d, LATERAL sentence_split(d.text) s
        """
    )


@query(
    "q_null_semantics",
    oracle="""
    WITH v AS (
      SELECT c_custkey AS ck,
             CASE WHEN SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 2) < '10'
                  THEN NULL
                  ELSE CAST(ROUND(c_acctbal * 100) AS BIGINT) END AS bal
      FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bal > 10000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gt,
           CAST(SUM(CASE WHEN NOT (bal > 10000) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_not_gt,
           CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(SUM(CASE WHEN ck NOT IN (1, 2, NULL) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_not_in_with_null,
           CAST(SUM(CASE WHEN bal = bal THEN 1 ELSE 0 END) AS BIGINT)
             AS n_self_eq,
           CAST(SUM(CASE WHEN bal IS NOT DISTINCT FROM bal THEN 1 ELSE 0 END)
                AS BIGINT) AS n_self_eq_nullsafe,
           CAST(SUM(CASE WHEN bal > 10000 THEN 1 ELSE 0 END)
                + SUM(CASE WHEN NOT (bal > 10000) THEN 1 ELSE 0 END)
                + SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END)
                = COUNT(*) AS BOOLEAN) AS trichotomy_holds
    FROM v
    """,
)
def q_null_semantics(spark, sf_dir):
    """NULL-SEMANTICS parity suite — the three-valued-logic edges
    counted identically on both engines over a deterministically
    NULLed column: a predicate and its negation DON'T partition the
    table (NULL satisfies neither — `trichotomy_holds` witnesses
    pred + NOT pred + IS NULL = total, oracle-expected TRUE);
    `NOT IN (…, NULL)` matches NOTHING (the classic trap — the
    reason q_tpch_q16's NOT IN decorrelates to LEFT ANTI with
    null-awareness); `=` is not reflexive under NULL while null-safe
    equality (`<=>` / IS NOT DISTINCT FROM) is.

    Scale shape: one narrow scan, one conditional-counter aggregate
    pass (q_dq_expectations' one-scan discipline), 1-row output."""
    cust = read_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    v = cust.select(
        F.col("c_custkey").alias("ck"),
        F.when(F.substring(h, 1, 2) < "10", F.lit(None).cast("bigint"))
        .otherwise(F.round(F.col("c_acctbal") * 100).cast("bigint"))
        .alias("bal"),
    )
    gt = F.col("bal") > 10000
    not_in = F.expr("ck NOT IN (1, 2, NULL)")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        cnt(gt).alias("n_gt"),
        cnt(~gt).alias("n_not_gt"),
        cnt(F.col("bal").isNull()).alias("n_null"),
        cnt(not_in).alias("n_not_in_with_null"),
        cnt(F.col("bal") == F.col("bal")).alias("n_self_eq"),
        cnt(F.col("bal").eqNullSafe(F.col("bal"))).alias(
            "n_self_eq_nullsafe"
        ),
    )
    return agg.select(
        "n_total",
        "n_gt",
        "n_not_gt",
        "n_null",
        "n_not_in_with_null",
        "n_self_eq",
        "n_self_eq_nullsafe",
        (
            F.col("n_gt") + F.col("n_not_gt") + F.col("n_null")
            == F.col("n_total")
        ).alias("trichotomy_holds"),
    )


# SURVEY.md §2.8 date functions / §2.9 analytics: BUSINESS-DAY LEAD TIME
# (order → ship elapsed in weekday counts via the closed-form
# Monday-epoch formula — no calendar spine, no UDF) and the MANN-KENDALL
# TREND TEST (the standard non-parametric "is this series trending"
# statistic over the daily-revenue series, exact integer S and
# tie-corrected variance).
#
# Exactness: business days are pure integer arithmetic; Mann-Kendall's S
# and variance numerator are exact BIGINTs (money as exact cents), with
# one final sqrt/division in IEEE double written identically on both
# engines.


# 1970-01-05 is a Monday: f(n) = 5*(n div 7) + least(n mod 7, 5) counts
# the weekdays in [epoch, epoch+n) — the prefix-sum trick that turns
# "business days between two dates" into f(b) - f(a) with no calendar
# table. All fixture dates are after the epoch, so div/mod floor- vs
# truncate-division semantics never diverge.
_EPOCH_MONDAY = "1970-01-05"


@query(
    "q_business_days",
    oracle=f"""
    WITH b AS (
      SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
             (5 * ((CAST(l_shipdate AS DATE) - DATE '{_EPOCH_MONDAY}') // 7)
              + LEAST((CAST(l_shipdate AS DATE) - DATE '{_EPOCH_MONDAY}') % 7, 5))
             - (5 * ((CAST(o_orderdate AS DATE) - DATE '{_EPOCH_MONDAY}') // 7)
                + LEAST((CAST(o_orderdate AS DATE) - DATE '{_EPOCH_MONDAY}') % 7, 5))
               AS bdays
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(bdays) AS BIGINT) AS total_bdays,
           CAST(SUM(bdays) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_bdays,
           CAST(MIN(bdays) AS BIGINT) AS min_bdays,
           CAST(MAX(bdays) AS BIGINT) AS max_bdays
    FROM b GROUP BY ship_month ORDER BY ship_month
    """,
)
def q_business_days(spark, sf_dir):
    """BUSINESS-DAY LEAD TIME: order→ship elapsed counted in weekdays
    (Mon–Fri), rolled up per ship month — the ops metric calendar-day
    datediff overstates by ~40% across weekends. The weekday count
    uses the Monday-epoch closed form f(n) = 5·(n div 7) +
    min(n mod 7, 5), so "business days between a and b" is f(b)−f(a):
    two integer expressions per row, no generated calendar spine, no
    per-row Python.

    Scale shape: one fact⋈fact equi-join on the natural key
    (l_orderkey = o_orderkey — co-partitionable / bucketable at
    warehouse scale), then a month-grain partial aggregate. No
    windows, no driver collection; sums are exact integers."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )

    def weekdays_since_epoch(col: str):
        n = F.datediff(F.col(col), F.lit(_EPOCH_MONDAY).cast("date"))
        return 5 * F.floor(n / 7) + F.least(n % 7, F.lit(5))

    b = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        (
            weekdays_since_epoch("l_shipdate")
            - weekdays_since_epoch("o_orderdate")
        ).alias("bdays"),
    )
    return (
        b.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("bdays").cast("bigint").alias("total_bdays"),
            (
                F.sum("bdays").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_bdays"),
            F.min("bdays").cast("bigint").alias("min_bdays"),
            F.max("bdays").cast("bigint").alias("max_bdays"),
        )
        .orderBy("ship_month")
    )


@query(
    "q_explode_pos",
    oracle="""
    SELECT d.doc_id,
           CAST(s.i - 1 AS INT) AS pos,
           d.words[s.i] AS word
    FROM (SELECT doc_id, str_split(text, ' ') AS words
          FROM documents WHERE doc_id % 50 = 0) d
    CROSS JOIN (SELECT UNNEST(range(1, 9)) AS i) s
    WHERE s.i <= len(d.words)
    ORDER BY doc_id, pos
    """,
)
def q_explode_pos(spark, sf_dir):
    """POSEXPLODE — ordinality-preserving explode (§2.8 shipped plain
    explode): the first 8 tokens of every 50th document with their
    0-based positions, the shape tokenizer pipelines use when token
    ORDER carries meaning (context packing, n-gram windows).

    Scale shape: narrow row-local transform — slice bounds the fan-out
    to 8 rows per doc before the explode, no shuffle at all."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    )
    return (
        d.select(
            "doc_id",
            F.posexplode(F.slice(F.split(F.col("text"), " "), 1, 8)).alias(
                "pos", "word"
            ),
        )
        .orderBy("doc_id", "pos")
    )


# SURVEY.md §2.8 / §2.11: OUTER explode (empty collections keep their
# row), higher-order array predicates (EXISTS / FORALL / FILTER — the
# §2.8 HOF members beyond transform), error-safe TRY arithmetic
# (ANSI-mode surface: divide-by-zero → NULL, not job failure),
# out-of-vocabulary rate against the corpus head vocabulary (the
# tokenizer-coverage metric a training pipeline tracks per source), and
# label-balance audit with a deterministic downsample plan over the
# embeddings' label column.
#
# Exactness: HOF predicates and counts are integers; OOV shares and
# balance ratios are ONE IEEE division of exact longs; try_divide NULLs
# are positional, not value-dependent.


@query(
    "q_explode_outer",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN []
                  ELSE str_split(text, ' ')[1:2] END AS toks
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT d.doc_id,
           CASE WHEN len(d.toks) = 0 THEN NULL ELSE u.tok END AS tok
    FROM d LEFT JOIN (
      SELECT doc_id, UNNEST(toks) AS tok FROM d
    ) u USING (doc_id)
    ORDER BY doc_id, tok NULLS FIRST
    """,
)
def q_explode_outer(spark, sf_dir):
    """EXPLODE_OUTER — the outer form that KEEPS rows whose collection
    is empty (plain explode silently drops them — the classic lost-
    document bug when a tokenizer yields nothing). Every 3rd sampled
    doc's token list is emptied to exercise the preserved-row path;
    the oracle spells the same semantics as a LEFT JOIN against the
    unnest. Row-local generate, no shuffle."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 25 == 0
    )
    toks = F.when(
        F.col("doc_id") % 3 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(F.split(F.col("text"), " "), 1, 2))
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode_outer("toks").alias("tok"))
        .orderBy("doc_id", F.asc_nulls_first("tok"))
    )


@query(
    "q_array_hof_predicates",
    oracle="""
    WITH arr AS (
      SELECT l_orderkey,
             LIST(CAST(l_quantity AS BIGINT)
                  ORDER BY l_linenumber, CAST(l_quantity AS BIGINT)) AS qtys
      FROM lineitem WHERE l_orderkey % 101 = 0
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(qtys) AS INT) AS n_lines,
           len(list_filter(qtys, q -> q > 45)) > 0 AS any_heavy,
           len(list_filter(qtys, q -> q >= 10)) = len(qtys) AS all_at_least_10,
           CAST(len(list_filter(qtys, q -> q % 2 = 0)) AS INT) AS n_even
    FROM arr ORDER BY l_orderkey
    """,
)
def q_array_hof_predicates(spark, sf_dir):
    """Higher-order array PREDICATES — EXISTS / FORALL / size(FILTER)
    over each order's line-quantity array (§2.8 shipped transform/
    aggregate; the predicate members are what JSON-ish schemas lean
    on). Arrays are bounded (≤7 lines per order) and built under an
    explicit (line-number, quantity) sort — the struct sort_array here
    and the oracle's two-key LIST ORDER BY state the same total-enough
    order, since (l_orderkey, l_linenumber) is not unique in the
    fixture (round-12 queued tie-order batch; the predicate outputs are
    permutation-invariant, so this pins layout-independence rather
    than fixing a live divergence). All outputs are booleans/ints.

    Scale shape: one groupBy collect per order (bounded arrays), then
    row-local JVM higher-order functions — no UDF, no second
    shuffle."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 101 == 0
    )
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "l_linenumber",
                    F.col("l_quantity").cast("bigint").alias("l_quantity"),
                )
            )
        ).alias("pairs")
    ).select(
        "l_orderkey",
        F.transform(F.col("pairs"), lambda p: p["l_quantity"]).alias("qtys"),
    )
    return arr.select(
        "l_orderkey",
        F.size("qtys").alias("n_lines"),
        F.exists("qtys", lambda q: q > 45).alias("any_heavy"),
        F.forall("qtys", lambda q: q >= 10).alias("all_at_least_10"),
        F.size(F.filter("qtys", lambda q: q % 2 == 0)).alias("n_even"),
    ).orderBy("l_orderkey")


@query(
    "q_try_divide",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_discount,
           CAST(SUM(CASE WHEN l_discount = 0 THEN NULL
                    ELSE CAST(ROUND(l_extendedprice * 100) AS BIGINT) END)
                AS BIGINT) AS divisible_cents
    FROM lineitem
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q_try_divide(spark, sf_dir):
    """Error-safe TRY arithmetic (ANSI-mode surface): ``try_divide``
    turns division-by-zero into NULL instead of failing the job — the
    semantics a 100 TB pipeline needs when one poisoned row must not
    kill a stage. The query divides each row's price by its discount
    and aggregates the rows try_divide NULLed (exactly the zero-
    discount rows) against the cents that survived — the oracle states
    the same partition arithmetically, so the NULL behavior itself is
    hash-verified without comparing float quotients."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    q = F.try_divide(F.lit(1.0), F.col("l_discount"))
    return (
        li.select(
            "l_linestatus",
            q.alias("q"),
            cents.alias("cents"),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(F.col("q").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_discount"),
            F.sum(F.when(F.col("q").isNotNull(), F.col("cents")))
            .cast("bigint")
            .alias("divisible_cents"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q_unnest_ordinality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT({_NORM_SQL.format(c='text')}, ' ') AS a
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS ord,
           a[CAST(i AS INT)] AS token
    FROM toks, UNNEST(GENERATE_SERIES(1, LEN(a))) AS t(i)
    WHERE LEN(a) > 0
    ORDER BY doc_id, ord
    """,
)
def q_unnest_ordinality(spark, sf_dir):
    """``UNNEST … WITH ORDINALITY`` — tokenize each document and emit
    every token WITH its 1-based position. Spark's native ordinality
    surface is ``posexplode`` (0-based, +1 to match the standard);
    DuckDB has no WITH ORDINALITY, so the oracle derives ordinals
    independently by indexing the array over GENERATE_SERIES — two
    unrelated formulations agreeing on both the tokens and their
    positions. Plan: narrow generator expand, no shuffle (the ORDER BY
    is the driver-compare convention, not a plan stage at scale)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(normalize_text("text"), " ")).alias(
                "pos", "token"
            ),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("ord"),
            "token",
        )
        .orderBy("doc_id", "ord")
    )


# SURVEY.md §2.8 string surface — Postgres-parity stragglers: two
# string-matching features of the reference's delegated SQL engine
# (`APP/services/pgliteService.ts:36-49`) that predate any registered
# key:
#
# - **q_split_part** — Postgres/DuckDB/Spark all ship ``split_part``
#   with the same 1-based contract, including the two edge semantics a
#   port actually trips on: an index past the last field returns the
#   EMPTY STRING (not NULL), and a NEGATIVE index counts from the end.
#   Both edges are exercised in the hash-gated columns.
# - **q_ilike_similar** — case-insensitive LIKE (``ILIKE``) and SQL
#   ``SIMILAR TO``. Spark parses ILIKE natively; it has no SIMILAR TO,
#   so the engine side is the canonical rewrite ``rlike '^(...)$'``
#   (SIMILAR TO implicitly anchors BOTH ends — the bug magnet of every
#   SIMILAR TO port; the oracle runs DuckDB's native SIMILAR TO, so the
#   anchoring rewrite is proven against real semantics, the
#   q_window_agg_filter discipline). Patterns stick to the regex
#   subset shared by SQL SIMILAR TO and Java regex (alternation,
#   ``%`` → ``.*``), documented inline.
#
# Both are narrow per-row maps — no shuffle but the driver-compare sort.


@query(
    "q_split_part",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR)
               AS path
      FROM documents
    )
    SELECT doc_id, path,
           SPLIT_PART(path, '/', 1) AS part_source,
           SPLIT_PART(path, '/', 2) AS part_lang,
           SPLIT_PART(path, '/', 3) AS part_leaf,
           SPLIT_PART(path, '/', 9) AS part_past_end,
           SPLIT_PART(path, '/', -1) AS part_last
    FROM p ORDER BY doc_id
    """,
)
def q_split_part(spark, sf_dir):
    """``split_part`` over a per-doc storage path — field extraction
    with the full cross-engine contract: 1-based fields, empty string
    (never NULL) past the last field, negative index from the end.
    Same function name and semantics in Spark, DuckDB, and Postgres,
    so the SQL text is effectively shared. One narrow projection."""
    d = read_table(spark, sf_dir, "documents")
    path = F.concat(
        F.col("source"),
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc_"),
        F.col("doc_id").cast("string"),
    )
    return (
        d.select(
            "doc_id",
            path.alias("path"),
            F.split_part(path, F.lit("/"), F.lit(1)).alias("part_source"),
            F.split_part(path, F.lit("/"), F.lit(2)).alias("part_lang"),
            F.split_part(path, F.lit("/"), F.lit(3)).alias("part_leaf"),
            F.split_part(path, F.lit("/"), F.lit(9)).alias("part_past_end"),
            F.split_part(path, F.lit("/"), F.lit(-1)).alias("part_last"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_ilike_similar",
    oracle="""
    SELECT doc_id,
           text ILIKE '%SPARK%' AS has_spark_ci,
           source ILIKE 'SRC1%' AS src_prefix_ci,
           lang SIMILAR TO '(en|es)' AS lang_sim,
           source SIMILAR TO 'src(1|2).*' AS src_sim
    FROM documents ORDER BY doc_id
    """,
)
def q_ilike_similar(spark, sf_dir):
    """Case-insensitive LIKE and SQL SIMILAR TO.

    ILIKE: Spark parses it natively (same fold-then-LIKE semantics as
    Postgres/DuckDB) — ``'%SPARK%'`` against lowercase corpus text and
    ``'SRC1%'`` against the source labels both hit only via the fold.

    SIMILAR TO: Spark has no such predicate; the rewrite is
    ``rlike '^(pattern)$'``. The ^( )$ wrapper is the load-bearing
    part — SIMILAR TO matches the WHOLE string while rlike
    substring-matches, so the unanchored port silently turns
    ``'(en|es)'`` into "contains en or es". Dialect note discovered by
    this key's first red run: DuckDB deviates from SQL here — its
    SIMILAR TO is plain full-match POSIX regex (``%`` is a LITERAL
    percent, unlike Postgres where ``%``/``_`` are wildcards and ``.``
    is literal) — so the patterns stick to the regex subset DuckDB and
    Java share (alternation, grouping, ``.*``); a Postgres port would
    spell them with ``%``. DuckDB evaluates the native predicate, so
    the hash gate proves the anchoring rewrite against real full-match
    semantics on every row."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.expr("text ILIKE '%SPARK%'").alias("has_spark_ci"),
            F.expr("source ILIKE 'SRC1%'").alias("src_prefix_ci"),
            F.col("lang").rlike("^(en|es)$").alias("lang_sim"),
            F.col("source").rlike("^(src(1|2).*)$").alias("src_sim"),
        )
        .orderBy("doc_id")
    )
