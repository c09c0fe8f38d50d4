"""Data-quality and profiling queries (SURVEY.md §2.4, §2.11).

Column profiles, expectations, uniqueness and foreign-key audits, drift,
outliers, imputation, reconciliation, privacy audits and checksums.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.aggregates import (
    exact_stats,
    null_profile,
)
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_profile_nulls",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total,
                      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_custkey,
                      CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_totalprice,
                      CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderstatus
               FROM orders)
    SELECT column_name, null_count, total_count FROM (
      SELECT 'o_custkey' AS column_name, n_custkey AS null_count, total AS total_count FROM t
      UNION ALL
      SELECT 'o_orderstatus', n_orderstatus, total FROM t
      UNION ALL
      SELECT 'o_totalprice', n_totalprice, total FROM t
    ) ORDER BY column_name
    """,
)
def q_profile_nulls(spark, sf_dir):
    """Deterministic null-profile — the engine twin of the reference's LLM
    quality category "Contains null values" (geminiService.ts:64)."""
    return null_profile(
        read_table(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_totalprice"],
    )


@query(
    "q_profile_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           MIN(c_acctbal) AS min_val,
           MAX(c_acctbal) AS max_val,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_val,
           SQRT(GREATEST(CAST(COUNT(*) AS DOUBLE)
                   * CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 - CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   * CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 0.0)
                / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0))) AS stddev_val
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q_profile_stats(spark, sf_dir):
    """Outlier/statistics profile with engine-reproducible stddev
    (exact decimal moments; see operators.aggregates.exact_stats)."""
    return exact_stats(
        read_table(spark, sf_dir, "customer"), "c_acctbal", ["c_mktsegment"]
    )


@query(
    "q_profile_median",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT c_mktsegment, c_acctbal AS median_low
    FROM ranked WHERE rn = (n + 1) // 2
    ORDER BY c_mktsegment
    """,
)
def q_profile_median(spark, sf_dir):
    """Exact rank-based median (lower median) — deterministic across
    engines, unlike interpolated percentile arithmetic; the profiling
    primitive for outlier bounds. One window pass per group."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    return (
        c.select(
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("c_mktsegment", F.col("c_acctbal").alias("median_low"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_profile_catalog",
    oracle="""
    SELECT column_name, sql_type, null_count, distinct_count FROM (
      SELECT 'o_orderkey' AS column_name, 'INTEGER' AS sql_type,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
             COUNT(DISTINCT o_orderkey) AS distinct_count FROM orders
      UNION ALL
      SELECT 'o_orderstatus', 'TEXT',
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderstatus) FROM orders
      UNION ALL
      SELECT 'o_totalprice', 'REAL',
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_totalprice) FROM orders
    ) ORDER BY column_name
    """,
)
def q_profile_catalog(spark, sf_dir):
    """The catalog as a query: per-column type/null/cardinality rows — the
    deterministic ColumnAnalysis core (reference types.ts:2-9) over orders,
    with the reference's type-lattice names (geminiService.ts:61)."""
    from self_healing_data_pipeline_spark.plans.catalog import sql_type_of

    o = read_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    kinds = {f.name: sql_type_of(f.dataType.simpleString())
             for f in o.schema.fields}
    agg = o.agg(
        *[F.sum(F.col(c).isNull().cast("bigint")).alias(f"n__{c}") for c in cols],
        *[F.countDistinct(c).alias(f"d__{c}") for c in cols],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(kinds[c]).alias("sql_type"),
                F.col(f"n__{c}").alias("null_count"),
                F.col(f"d__{c}").alias("distinct_count"),
            )
            for c in cols
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.column_name", "r.sql_type", "r.null_count", "r.distinct_count")
        .orderBy("column_name")
    )


@query(
    "q_profile_quartiles",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                    THEN c_acctbal END) AS q1,
           MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT)
                    THEN c_acctbal END) AS median,
           MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
                    THEN c_acctbal END) AS q3
    FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q_profile_quartiles(spark, sf_dir):
    """Exact rank-based quartiles per group (value at rank ceil(q*n) under
    a total order) — deterministic across engines, unlike interpolated
    percentile arithmetic, and the profiling basis for IQR outlier
    fences. One window shuffle on the group key, then a tiny conditional
    aggregate; at 100 TB the per-group sort is the cost, which is why the
    sketch twin (q_agg_approx_percentile) exists for wide profiling."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    r = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def at(q):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("c_acctbal"),
            )
        )
    return (
        r.groupBy("c_mktsegment")
        .agg(at(0.25).alias("q1"), at(0.50).alias("median"), at(0.75).alias("q3"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_profile_histogram",
    oracle="""
    WITH b AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), binned AS (
      SELECT LEAST(CAST(FLOOR((o_totalprice - b.lo) / ((b.hi - b.lo) / 10.0))
                        AS BIGINT), 9) AS bin
      FROM orders, b
    )
    SELECT bin, COUNT(*) AS n_rows FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_profile_histogram(spark, sf_dir):
    """Equi-width 10-bin histogram of a numeric column — the distribution
    profile backing the reference's 'Possible outliers detected' category
    (geminiService.ts:64) in deterministic form. min/max come from a
    broadcast 1-row aggregate; bin arithmetic is identical IEEE double ops
    on both engines, so bin edges agree bit-for-bit. One scan for bounds +
    one for binning; at 100 TB the bounds pass is a cheap column-pruned
    scan (or comes from catalog stats for free)."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 10.0
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast(
                    "bigint"
                ),
                F.lit(9).cast("bigint"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("bin")
    )


@query(
    "q_profile_topk_values",
    oracle="""
    WITH vals AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ), counts AS (
      SELECT col, val, COUNT(*) AS n FROM vals GROUP BY col, val
    )
    SELECT col, val,
           CAST(n AS BIGINT) AS n_rows,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY col
                                       ORDER BY n DESC, val) AS rnk
          FROM counts)
    WHERE rnk <= 3
    ORDER BY col, rnk
    """,
)
def q_profile_topk_values(spark, sf_dir):
    """Frequent-values profile: the top-3 most common values of each
    profiled column with counts — the catalog's answer to "what does this
    column actually contain", the deterministic twin of the reference's
    LLM quality-issue hints (``APP/services/geminiService.ts:64``: enum
    detection, skewed-domain detection). Columns unpivot via stack (one
    scan for all profiled columns), counts aggregate map-side to
    |col|×|domain| rows, and the per-column top-3 is a rank window over
    that already-tiny aggregate — never over the raw table."""
    o = read_table(spark, sf_dir, "orders")
    vals = o.select(
        F.expr(
            "stack(2, 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority) AS (col, val)"
        )
    )
    counts = vals.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("col").orderBy(F.desc("n"), F.asc("val"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "col",
            "val",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .orderBy("col", "rnk")
    )


# Data-quality audit queries (SURVEY.md §2.11, round 4).
#
# The reference's core loop is ingest → validate → quarantine → verify
# (`APP/App.tsx` review gates + load-verify read-back; `README.md:2`'s
# "self-healing" claim). This module is that loop's audit surface as
# first-class queries: declarative expectations, referential integrity,
# key uniqueness, distribution drift, Benford conformance, freshness,
# outlier fences, and schema/type inference over dirty string columns —
# each oracle-checked against DuckDB.
#
# Scale discipline shared by every query here:
#
# - Rule evaluation is ONE aggregate pass per table (map-side partial
#   counters, ~N longs per task cross the wire) — never a scan per rule.
# - Ratios are a single IEEE division of exact integer masses; drift
#   scores keep the numerator in exact integer arithmetic so cross-engine
#   float summation order can't flip a bit.
# - FK audits join child→parent on the key with small parents broadcast;
#   the one big-big pair (lineitem⋈orders) shuffles on the join key
#   exactly once.
# - Medians/MADs are rank-based (window per group), not interpolated —
#   deterministic across engines and skew-safe (per-group windows, no
#   global sort).


@query(
    "q_dq_expectations",
    oracle="""
    WITH c AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN NOT COALESCE(l_quantity > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_quantity_positive,
        CAST(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_discount_in_unit_range,
        CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
        CAST(SUM(CASE WHEN NOT COALESCE(l_tax BETWEEN 0 AND 1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_tax_in_unit_range,
        CAST(SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_returnflag_enum,
        CAST(SUM(CASE WHEN NOT COALESCE(l_shipdate IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_shipdate_not_null
      FROM lineitem
    )
    SELECT rule, n_rows, n_violations,
           CASE WHEN n_rows = 0 THEN 1.0
                ELSE (n_rows - n_violations) / CAST(n_rows AS DOUBLE) END
             AS pass_rate,
           n_violations = 0 AS ok
    FROM (
      SELECT 'quantity_positive' AS rule, n AS n_rows, v_quantity_positive AS n_violations FROM c
      UNION ALL SELECT 'discount_in_unit_range', n, v_discount_in_unit_range FROM c
      UNION ALL SELECT 'price_positive', n, v_price_positive FROM c
      UNION ALL SELECT 'tax_in_unit_range', n, v_tax_in_unit_range FROM c
      UNION ALL SELECT 'returnflag_enum', n, v_returnflag_enum FROM c
      UNION ALL SELECT 'shipdate_not_null', n, v_shipdate_not_null FROM c
    ) ORDER BY rule
    """,
)
def q_dq_expectations(spark, sf_dir):
    """Declarative expectation suite over lineitem via
    ``operators.expectations.run_expectations`` — six rules, ONE
    aggregate scan (each task emits one counter row; no per-rule jobs).
    The report row shape is (rule, n_rows, n_violations, pass_rate, ok);
    pass_rate is a single IEEE division of exact longs."""
    from self_healing_data_pipeline_spark.operators.expectations import (
        expect_between,
        expect_in,
        expect_not_null,
        expect_positive,
        run_expectations,
    )

    li = read_table(spark, sf_dir, "lineitem")
    rules = [
        expect_positive("quantity_positive", "l_quantity"),
        expect_between("discount_in_unit_range", "l_discount", 0, 1),
        expect_positive("price_positive", "l_extendedprice"),
        expect_between("tax_in_unit_range", "l_tax", 0, 1),
        expect_in("returnflag_enum", "l_returnflag", ["A", "N", "R"]),
        expect_not_null("shipdate_not_null", "l_shipdate"),
    ]
    return run_expectations(li, rules).orderBy("rule")


@query(
    "q_dq_fk_orphans",
    oracle="""
    SELECT relation, n_child, n_orphans, n_orphans = 0 AS ok FROM (
      SELECT 'customer.c_nationkey->nation' AS relation,
             COUNT(*) AS n_child,
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders', COUNT(*),
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part', COUNT(*),
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
             CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'nation.n_regionkey->region', COUNT(*),
             CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      UNION ALL
      SELECT 'orders.o_custkey->customer', COUNT(*),
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ) ORDER BY relation
    """,
)
def q_dq_fk_orphans(spark, sf_dir):
    """Referential-integrity audit over the full FK graph that
    ``q_join_discovery`` recovers: per relation, child rows vs orphans
    (child keys with no parent). All THREE lineitem FKs audit in ONE
    scan — a single join chain (orders via the one big↔big shuffle;
    the part/supplier key sets are size-chosen by AQE, broadcast at
    fixture SF, shuffle at corpus scale — only the fixed-grain
    nation/region parents keep a forced hint) feeding one aggregate
    that counts the three orphan kinds, unpivoted to per-relation
    rows. The remaining relations are one LEFT JOIN + ungrouped
    aggregate each.
    Orphan counting — not just existence — so the report quantifies
    damage."""

    def audit(child, ckey, parent, pkey, label, broadcast_parent):
        p = parent.select(pkey).distinct()
        if broadcast_parent:
            p = F.broadcast(p)
        return (
            child.select(ckey)
            .join(p, F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.lit(label).alias("relation"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                "relation",
                "n_child",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("ok"),
            )
        )

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")

    # all three lineitem FKs audited in ONE scan: chain the parent key
    # sets onto one pass (orders via the single big-big shuffle; part/
    # supplier join strategy left to AQE — they scale with the corpus,
    # so a forced broadcast is a cluster OOM at real SF) and count the
    # three orphan kinds in one aggregate, then unpivot into rows
    li3 = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(
            o.select("o_orderkey").distinct(),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .join(
            p.select("p_partkey").distinct(),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .join(
            s.select("s_suppkey").distinct(),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            *[
                F.sum(F.when(F.col(k).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(a)
                for k, a in (
                    ("o_orderkey", "orph_orders"),
                    ("p_partkey", "orph_part"),
                    ("s_suppkey", "orph_supplier"),
                )
            ],
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rel).alias("relation"),
                            F.col("n_child").alias("n_child"),
                            F.col(a).alias("n_orphans"),
                        )
                        for rel, a in (
                            ("lineitem.l_orderkey->orders", "orph_orders"),
                            ("lineitem.l_partkey->part", "orph_part"),
                            ("lineitem.l_suppkey->supplier", "orph_supplier"),
                        )
                    ]
                )
            ).alias("x")
        )
        .select(
            "x.relation",
            "x.n_child",
            "x.n_orphans",
            (F.col("x.n_orphans") == 0).alias("ok"),
        )
    )
    parts = [
        audit(c, "c_nationkey", n, "n_nationkey",
              "customer.c_nationkey->nation", True),
        li3,
        audit(n, "n_regionkey", r, "r_regionkey",
              "nation.n_regionkey->region", True),
        audit(o, "o_custkey", c, "c_custkey",
              "orders.o_custkey->customer", False),
    ]
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.orderBy("relation")


@query(
    "q_dq_uniqueness",
    oracle="""
    SELECT entity, n_rows, n_distinct, n_dup_keys, n_dup_keys = 0 AS ok
    FROM (
      SELECT 'customer.c_custkey' AS entity, COUNT(*) AS n_rows,
             COUNT(DISTINCT c_custkey) AS n_distinct,
             CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS n_dup_keys
      FROM customer
      UNION ALL
      SELECT 'documents.doc_id', COUNT(*), COUNT(DISTINCT doc_id),
             CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) FROM documents
      UNION ALL
      SELECT 'events.event_id', COUNT(*), COUNT(DISTINCT event_id),
             CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) FROM events
      UNION ALL
      SELECT 'lineitem.(l_orderkey,l_linenumber)', COUNT(*),
             COUNT(DISTINCT l_orderkey * 16 + l_linenumber),
             CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 16 + l_linenumber) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'orders.o_orderkey', COUNT(*), COUNT(DISTINCT o_orderkey),
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
    ) ORDER BY entity
    """,
)
def q_dq_uniqueness(spark, sf_dir):
    """Primary-key uniqueness audit: per declared key, rows vs distinct
    keys and the excess (duplicate rows beyond the first per key). The
    composite lineitem key packs (orderkey, linenumber) into one bigint
    (linenumber < 16) so the distinct is a single-column hash aggregate
    on both engines. Each entity is one exact distinct-count aggregate
    (two-stage partial_count_distinct under AQE) — no window, no sort."""

    def audit(df, keycol, label):
        return df.agg(
            F.lit(label).alias("entity"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(keycol).alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(keycol))
            .cast("long")
            .alias("n_dup_keys"),
        ).select(
            "entity",
            "n_rows",
            "n_distinct",
            "n_dup_keys",
            (F.col("n_dup_keys") == 0).alias("ok"),
        )

    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "__pk", F.col("l_orderkey") * 16 + F.col("l_linenumber")
    )
    parts = [
        audit(read_table(spark, sf_dir, "customer"), "c_custkey",
              "customer.c_custkey"),
        audit(read_table(spark, sf_dir, "documents"), "doc_id",
              "documents.doc_id"),
        audit(read_table(spark, sf_dir, "events"), "event_id",
              "events.event_id"),
        audit(li, "__pk", "lineitem.(l_orderkey,l_linenumber)"),
        audit(read_table(spark, sf_dir, "orders"), "o_orderkey",
              "orders.o_orderkey"),
    ]
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.orderBy("entity")


@query(
    "q_dq_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), tot AS (SELECT COUNT(*) AS n FROM digits)
    SELECT d.digit,
           COUNT(*) AS n_orders,
           COUNT(*) / CAST(MIN(t.n) AS DOUBLE) AS observed_share,
           ROUND(LOG10(1.0 + 1.0 / d.digit), 6) AS benford_share,
           ROUND(ABS(COUNT(*) / CAST(MIN(t.n) AS DOUBLE)
                     - LOG10(1.0 + 1.0 / d.digit)), 6) AS abs_dev
    FROM digits d CROSS JOIN tot t
    GROUP BY d.digit
    ORDER BY d.digit
    """,
)
def q_dq_benford(spark, sf_dir):
    """Benford first-digit conformance on order totals — the classic
    fabricated-data screen. First digit via integer→string head (exact
    on both engines, no float formatting), shares as one IEEE division
    of exact longs against a broadcast one-row total, and the Benford
    expectation log10(1+1/d) ROUNDed to 6 places so cross-engine libm
    ulp differences cannot flip the hash. One hash aggregate over 9
    groups; the total joins back as a broadcast scalar."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    # ONE scan, one subtree: the grand total is a window sum OVER the
    # 9-row digit histogram (single-partition, but over 9 rows)
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn(
            "n", F.sum("n_orders").over(Window.partitionBy()).cast("long")
        )
        .select(
            "digit",
            "n_orders",
            (F.col("n_orders") / F.col("n").cast("double")).alias(
                "observed_share"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
                "benford_share"
            ),
            F.round(
                F.abs(
                    F.col("n_orders") / F.col("n").cast("double")
                    - F.log10(1.0 + 1.0 / F.col("digit"))
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@query(
    "q_dq_category_drift",
    oracle="""
    WITH m AS (
      SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
             o_orderpriority, COUNT(*) AS c_m
      FROM orders GROUP BY 1, 2
    ), mn AS (
      SELECT month, CAST(SUM(c_m) AS BIGINT) AS n_m FROM m GROUP BY month
    ), g AS (
      SELECT o_orderpriority, COUNT(*) AS c_g FROM orders GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_g FROM orders)
    SELECT m.month, MIN(mn.n_m) AS n_orders,
           CAST(SUM(ABS(m.c_m * (SELECT n_g FROM n) - g.c_g * mn.n_m)) AS BIGINT)
             AS l1_mass,
           0.5 * (CAST(SUM(ABS(m.c_m * (SELECT n_g FROM n) - g.c_g * mn.n_m)) AS BIGINT)
                  / CAST(MIN(mn.n_m) * (SELECT n_g FROM n) AS DOUBLE)) AS tvd
    FROM m JOIN mn USING (month) JOIN g USING (o_orderpriority)
    GROUP BY m.month
    ORDER BY m.month
    """,
)
def q_dq_category_drift(spark, sf_dir):
    """Population-stability drift monitor: per month, the total-variation
    distance between that month's order-priority mix and the global mix
    — the screen that catches a upstream feed silently changing its
    category distribution. The TVD numerator Σ|c_m·N − c_g·n_m| stays in
    EXACT integer arithmetic (so cross-engine float summation order is
    irrelevant) and only the final scale is one IEEE division. Costs:
    one months×priorities aggregate, a broadcast 5-row global mix, a
    broadcast 1-row total. Bound: c·N products stay under int64 while
    rows < ~3×10⁹ per side (documented overflow fence; at larger scale
    switch the product column to decimal(38,0))."""
    o = read_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderpriority",
    )
    # ONE table scan, ONE subtree: the months×priorities aggregate
    # (~#months·5 rows) is the only read; monthly totals, the global
    # mix, and the grand total are window sums OVER that aggregate —
    # joins back to re-derived branches would re-scan the table
    m = o.groupBy("month", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c_m")
    )
    m = m.select(
        "month",
        "o_orderpriority",
        "c_m",
        F.sum("c_m").over(Window.partitionBy("month")).cast("long").alias("n_m"),
        F.sum("c_m")
        .over(Window.partitionBy("o_orderpriority"))
        .cast("long")
        .alias("c_g"),
        # global total: single-partition window over the ~#months·5-row
        # aggregate (bounded by the calendar, not the data)
        F.sum("c_m").over(Window.partitionBy()).cast("long").alias("n_g"),
    )
    return (
        m.groupBy("month")
        .agg(
            F.min("n_m").alias("n_orders"),
            F.sum(
                F.abs(F.col("c_m") * F.col("n_g") - F.col("c_g") * F.col("n_m"))
            )
            .cast("long")
            .alias("l1_mass"),
            (
                F.lit(0.5)
                * (
                    F.sum(
                        F.abs(
                            F.col("c_m") * F.col("n_g")
                            - F.col("c_g") * F.col("n_m")
                        )
                    ).cast("long")
                    / (F.min("n_m") * F.min("n_g")).cast("double")
                )
            ).alias("tvd"),
        )
        .orderBy("month")
    )


@query(
    "q_dq_freshness",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS max_all FROM events)
    SELECT event_type, COUNT(*) AS n_events, MAX(ts) AS latest,
           (epoch_us(MIN(g.max_all)) - epoch_us(MAX(ts))) // 60000000
             AS staleness_min
    FROM events CROSS JOIN g
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_dq_freshness(spark, sf_dir):
    """Freshness/staleness audit: per event type, latest arrival and its
    lag in whole minutes behind the freshest record anywhere — the check
    that catches one upstream topic silently stalling while the rest of
    the feed advances. One 5-group aggregate + a broadcast 1-row global
    max; integer minutes keep the comparison exact."""
    e = read_table(spark, sf_dir, "events")
    # ONE scan, one subtree: the global max is a window max OVER the
    # 5-row per-type aggregate (single-partition, but over 5 rows)
    per_type = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("latest")
    )
    return (
        per_type.withColumn(
            "max_all", F.max("latest").over(Window.partitionBy())
        )
        .select(
            "event_type",
            "n_events",
            "latest",
            # whole-microsecond integer arithmetic, then integer-divide to
            # minutes: exact on both engines (no boundary-crossing
            # semantics, no sub-second truncation)
            # (NTZ→TZ cast is safe: the tz offset cancels in the diff)
            F.floor(
                (
                    F.unix_micros(F.col("max_all").cast("timestamp"))
                    - F.unix_micros(F.col("latest").cast("timestamp"))
                )
                / F.lit(60000000)
            )
            .cast("long")
            .alias("staleness_min"),
        )
        .orderBy("event_type")
    )


@query(
    "q_dq_type_inference",
    oracle="""
    WITH raw AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS c_id,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS c_date,
             o_orderpriority AS c_text,
             CASE WHEN o_orderkey % 10 = 0 THEN 'N/A'
                  ELSE CAST(o_orderkey % 97 AS VARCHAR) END AS c_dirty
      FROM orders
    ), prof AS (
      SELECT col, n, n_bigint, n_date FROM (
        SELECT 'c_id' AS col, COUNT(*) AS n,
               CAST(SUM(CASE WHEN TRY_CAST(c_id AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bigint,
               CAST(SUM(CASE WHEN TRY_CAST(c_id AS DATE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_date
        FROM raw
        UNION ALL
        SELECT 'c_date', COUNT(*),
               CAST(SUM(CASE WHEN TRY_CAST(c_date AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN TRY_CAST(c_date AS DATE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM raw
        UNION ALL
        SELECT 'c_text', COUNT(*),
               CAST(SUM(CASE WHEN TRY_CAST(c_text AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN TRY_CAST(c_text AS DATE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM raw
        UNION ALL
        SELECT 'c_dirty', COUNT(*),
               CAST(SUM(CASE WHEN TRY_CAST(c_dirty AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN TRY_CAST(c_dirty AS DATE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM raw
      )
    )
    SELECT col, n, n_bigint, n_date,
           CASE WHEN n_bigint * 100 >= n * 99 THEN 'BIGINT'
                WHEN n_date * 100 >= n * 99 THEN 'DATE'
                ELSE 'TEXT' END AS inferred_type
    FROM prof ORDER BY col
    """,
)
def q_dq_type_inference(spark, sf_dir):
    """Schema inference over dirty string columns — the reference's EP1
    behavior (upload → per-column type analysis, `APP/services/
    geminiService.ts` schema prompt) as a deterministic Spark op. A
    string-typed view is derived from orders (id, ISO date, free text,
    and a 10%-dirty numeric column), then ONE aggregate pass counts
    try_cast successes per candidate type; inference applies a 99%
    majority threshold so the dirty column still heals to TEXT only
    when contamination exceeds tolerance (here 10% > 1% → TEXT).
    Integer-threshold comparison (n_bigint·100 ≥ n·99) keeps the
    decision exact. All counters are map-side partials in a single
    scan of the derived view (the un-stacked form of
    ``run_expectations``)."""
    o = read_table(spark, sf_dir, "orders")
    raw = o.select(
        F.col("o_orderkey").cast("string").alias("c_id"),
        F.col("o_orderdate").cast("date").cast("string").alias("c_date"),
        F.col("o_orderpriority").alias("c_text"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("N/A"))
        .otherwise((F.col("o_orderkey") % 97).cast("string"))
        .alias("c_dirty"),
    # fixture parquet is one input split; the per-row try-parses are the
    # cost here, so fan out (real warehouse scans already have many
    # splits — the skinny 4-string-column shuffle is the cheap side)
    ).repartition(spark.sparkContext.defaultParallelism)
    aggs = [F.count(F.lit(1)).alias("n")]
    for col in ["c_id", "c_date", "c_text", "c_dirty"]:
        aggs.append(
            F.sum(
                F.when(F.col(col).try_cast("bigint").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"big_{col}")
        )
        aggs.append(
            # explicit ISO format: Spark's bare string→date cast accepts
            # partial dates ('2024' → 2024-01-01) that DuckDB rejects, so
            # pin the full yyyy-MM-dd pattern both engines agree on. The
            # rlike gate short-circuits non-date strings BEFORE the
            # formatter (whose failure path is exception-driven, ~µs/row
            # — measured 10× on a mostly-non-date column); anything that
            # parses under yyyy-MM-dd matches the regex, so the
            # conjunction is equivalent to the bare parse.
            F.sum(
                F.when(
                    F.col(col).rlike(r"^\d{4}-\d{2}-\d{2}$")
                    & F.try_to_timestamp(
                        F.col(col), F.lit("yyyy-MM-dd")
                    ).isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"date_{col}")
        )
    counts = raw.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(col).alias("col"),
                F.col(f"big_{col}").alias("n_bigint"),
                F.col(f"date_{col}").alias("n_date"),
            )
            for col in ["c_id", "c_date", "c_text", "c_dirty"]
        ]
    )
    return (
        counts.select(F.col("n"), F.explode(pairs).alias("p"))
        .select(
            F.col("p.col").alias("col"),
            "n",
            F.col("p.n_bigint").alias("n_bigint"),
            F.col("p.n_date").alias("n_date"),
        )
        .withColumn(
            "inferred_type",
            F.when(F.col("n_bigint") * 100 >= F.col("n") * 99, "BIGINT")
            .when(F.col("n_date") * 100 >= F.col("n") * 99, "DATE")
            .otherwise("TEXT"),
        )
        .orderBy("col")
    )


@query(
    "q_dq_outlier_mad",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ), med AS (
      SELECT o_orderpriority, o_totalprice AS median_price
      FROM ranked WHERE rn = (n + 1) // 2
    ), dev AS (
      SELECT o.o_orderpriority, o.o_orderkey,
             ABS(o.o_totalprice - m.median_price) AS adev,
             m.median_price
      FROM orders o JOIN med m USING (o_orderpriority)
    ), devranked AS (
      SELECT o_orderpriority, adev, median_price,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY adev, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM dev
    ), mad AS (
      SELECT o_orderpriority, median_price, adev AS mad
      FROM devranked WHERE rn = (n + 1) // 2
    )
    SELECT d.o_orderpriority, MIN(m.median_price) AS median_price,
           MIN(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           COUNT(*) AS n_rows
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY d.o_orderpriority
    ORDER BY d.o_orderpriority
    """,
)
def q_dq_outlier_mad(spark, sf_dir):
    """Robust outlier fence per category: median / MAD (median absolute
    deviation) of order totals per priority, and the count of rows
    outside the 3-MAD fence — the screen that survives the very
    outliers it hunts (unlike mean/stddev z-scores, cf.
    ``q_events_anomaly``). Both medians are exact rank-based picks of
    actual values (lower median, deterministic tie-break on orderkey;
    same discipline as ``q_profile_median``) so the result is bit-stable
    across engines. Two per-group window passes + one aggregate; windows
    partition by priority (parallel across groups, no global sort), and
    the 5-row median/MAD tables broadcast back to the fact side."""
    o = read_table(spark, sf_dir, "orders")
    w1 = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    med = (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.row_number().over(w1).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "o_orderpriority", F.col("o_totalprice").alias("median_price")
        )
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        F.abs(F.col("o_totalprice") - F.col("median_price")).alias("adev"),
        "median_price",
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy("adev", "o_orderkey")
    mad = (
        dev.select(
            "o_orderpriority",
            "adev",
            "median_price",
            F.row_number().over(w2).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("o_orderpriority", "median_price", F.col("adev").alias("mad"))
    )
    return (
        dev.select("o_orderpriority", "adev")
        .join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.min("median_price").alias("median_price"),
            F.min("mad").alias("mad"),
            F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_dq_route_quarantine",
    oracle="""
    WITH routed AS (
      SELECT CASE
               WHEN NOT COALESCE(l_quantity > 0, FALSE)
                 THEN 'quantity_positive'
               WHEN NOT COALESCE(l_discount BETWEEN 0 AND 1, FALSE)
                 THEN 'discount_in_unit_range'
               WHEN NOT COALESCE(l_extendedprice > 0, FALSE)
                 THEN 'price_positive'
               WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE)
                 THEN 'returnflag_enum'
               ELSE 'clean'
             END AS route,
             l_extendedprice
      FROM lineitem
    )
    SELECT route, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS amount_cents
    FROM routed GROUP BY route ORDER BY route
    """,
)
def q_dq_route_quarantine(spark, sf_dir):
    """Quarantine routing as a query: every row tagged with its FIRST
    failing rule (``operators.expectations.route_violations`` — the CASE
    chain the quarantine sink writes), then a per-route count + exact
    amount-cents mass so the report shows what value is stuck in
    quarantine, not just how many rows. One narrow projection + one
    small-cardinality aggregate; the CASE chain is a single codegen'd
    expression, no extra scan per rule."""
    from self_healing_data_pipeline_spark.operators.expectations import (
        expect_between,
        expect_in,
        expect_positive,
        route_violations,
    )

    li = read_table(spark, sf_dir, "lineitem")
    rules = [
        expect_positive("quantity_positive", "l_quantity"),
        expect_between("discount_in_unit_range", "l_discount", 0, 1),
        expect_positive("price_positive", "l_extendedprice"),
        expect_in("returnflag_enum", "l_returnflag", ["A", "N", "R"]),
    ]
    return (
        route_violations(li, rules)
        .select(
            F.coalesce(F.col("quarantine_rule"), F.lit("clean")).alias(
                "route"
            ),
            "l_extendedprice",
        )
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("amount_cents"),
        )
        .orderBy("route")
    )


# SURVEY.md §2.7/§2.11: data reconciliation — the migration-validation
# table diff (row-hash full-outer compare between a table and its
# "migrated" twin), the op every warehouse cutover and backfill audit
# runs.
#
# The comparison twin derives DETERMINISTICALLY in-query (md5-threshold
# row selection, exact-cents perturbation), so both engines reconstruct
# the identical "after" table — no fixtures, no RNG — and the diff
# itself is the thing under test.


@query(
    "q_table_diff",
    oracle="""
    WITH before AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders
    ), after AS (
      -- the "migrated" twin: ~1% of rows dropped, ~2% price-bumped by
      -- one cent — md5-threshold selection, identical on both engines
      SELECT o_orderkey,
             CASE WHEN SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)), 3, 2)
                       < '06'
                  THEN cents + 1 ELSE cents END AS cents,
             o_orderstatus
      FROM before
      WHERE SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '03'
    ), d AS (
      SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS k,
             CASE WHEN a.o_orderkey IS NULL THEN 'missing_in_after'
                  WHEN b.o_orderkey IS NULL THEN 'extra_in_after'
                  WHEN b.cents != a.cents
                       OR b.o_orderstatus != a.o_orderstatus
                  THEN 'changed' ELSE 'equal' END AS verdict,
             CASE WHEN a.cents IS NOT NULL AND b.cents IS NOT NULL
                  THEN a.cents - b.cents ELSE 0 END AS cents_delta
      FROM before b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents_delta) AS BIGINT) AS total_cents_delta,
           CAST(MIN(k) AS BIGINT) AS first_key,
           CAST(MAX(k) AS BIGINT) AS last_key
    FROM d GROUP BY verdict ORDER BY verdict
    """,
)
def q_table_diff(spark, sf_dir):
    """Migration-validation TABLE DIFF: full-outer key compare of a
    table against its migrated twin, classifying every key as equal /
    changed / missing_in_after / extra_in_after, with the exact-cents
    drift total per class and first/last affected keys — the
    reconciliation report a cutover audit signs off on.

    Plan: one full-outer equi-join on the table key (hash-partitioned
    both sides; at 100 TB both sides shuffle once on the key — the
    unavoidable cost of exact reconciliation; bucketed layouts on the
    key make it shuffle-free, see ``write_bucketed_table``), then a
    small per-verdict rollup via map-side partials. Value compare uses
    exact cents, never floats. The "after" side derives from the same
    scan by deterministic md5 thresholds (~1% deletes, ~2% one-cent
    bumps), so the oracle rebuilds the identical twin."""
    o = read_table(spark, sf_dir, "orders")
    before = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderstatus",
    )
    h = F.md5(F.col("o_orderkey").cast("string"))
    after = (
        before.where(F.substring(h, 1, 2) >= "03")
        .select(
            "o_orderkey",
            F.when(
                F.substring(h, 3, 2) < "06", F.col("cents") + 1
            ).otherwise(F.col("cents")).alias("cents"),
            "o_orderstatus",
        )
    )
    b = before.select(
        F.col("o_orderkey").alias("bk"),
        F.col("cents").alias("bc"),
        F.col("o_orderstatus").alias("bs"),
    )
    a = after.select(
        F.col("o_orderkey").alias("ak"),
        F.col("cents").alias("ac"),
        F.col("o_orderstatus").alias("as_"),
    )
    d = b.join(a, b.bk == a.ak, "full_outer").select(
        F.coalesce("bk", "ak").alias("k"),
        F.when(F.col("ak").isNull(), F.lit("missing_in_after"))
        .when(F.col("bk").isNull(), F.lit("extra_in_after"))
        .when(
            (F.col("bc") != F.col("ac")) | (F.col("bs") != F.col("as_")),
            F.lit("changed"),
        )
        .otherwise(F.lit("equal"))
        .alias("verdict"),
        F.when(
            F.col("ac").isNotNull() & F.col("bc").isNotNull(),
            F.col("ac") - F.col("bc"),
        )
        .otherwise(F.lit(0))
        .alias("cents_delta"),
    )
    return (
        d.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents_delta").cast("bigint").alias("total_cents_delta"),
            F.min("k").cast("bigint").alias("first_key"),
            F.max("k").cast("bigint").alias("last_key"),
        )
        .orderBy("verdict")
    )


_FD_CANDIDATES = [
    ("nation", "n_nationkey", "n_name"),  # holds: key discovery
    ("nation", "n_name", "n_regionkey"),  # holds: genuine non-key FD
    ("part", "p_brand", "p_type"),        # fails: brand doesn't fix type
    ("customer", "c_nationkey", "c_mktsegment"),  # fails
    ("supplier", "s_nationkey", "s_acctbal"),     # fails (23/25 keys)
]


def _fd_select(tbl: str, det: str, dep: str) -> str:
    return f"""
      SELECT '{tbl}' AS tbl, '{det}' AS det, '{dep}' AS dep,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
      FROM (SELECT {det} AS k, COUNT(DISTINCT {dep}) AS nd
            FROM {tbl} GROUP BY 1)"""


@query(
    "q_fd_discovery",
    oracle="SELECT * FROM ("
    + " UNION ALL ".join(_fd_select(*c) for c in _FD_CANDIDATES)
    + ") ORDER BY tbl, det",
)
def q_fd_discovery(spark, sf_dir):
    """Functional-dependency DISCOVERY over candidate column pairs —
    the catalog profiling op behind "relationships between datasets"
    (`automated-data-catalog-&-etl/README.md:21`): for each candidate
    determinant→dependent pair, how many determinant values exist and
    how many VIOLATE the dependency (more than one distinct dependent).
    On these fixtures ``n_nationkey→n_name`` (key discovery) and
    ``n_name→n_regionkey`` (a genuine non-key FD) hold; the other
    three genuinely fail — the report distinguishes them with exact
    counts, not samples.

    Scale shape: one groupBy per candidate on the determinant key with
    an exact COUNT(DISTINCT dep) — two-level partial aggregation, no
    row ever carries more than (det, dep); the per-candidate verdict
    reduces to a single row before the 4-row union. Candidate
    generation is config (a list), so the pass is embarrassingly
    parallel across candidates."""
    outs = []
    for tbl, det, dep in _FD_CANDIDATES:
        t = read_table(spark, sf_dir, tbl)
        per_key = t.groupBy(F.col(det).alias("k")).agg(
            F.countDistinct(dep).alias("nd")
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        outs.append(
            per_key.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                viol.cast("bigint").alias("n_violating"),
                (viol == 0).alias("holds"),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(det).alias("det"),
                F.lit(dep).alias("dep"),
                "n_keys",
                "n_violating",
                "holds",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("tbl", "det")


_K_ANON = 5


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             -- shift keeps the dividend non-negative: DuckDB's //
             -- truncates toward zero, Spark's pmod-form floors — they
             -- agree only for >= 0 (balances bottom out at -$10k)
             (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 1000000) // 100000
               - 10 AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS grp_size
      FROM customer GROUP BY 1, 2, 3
    ), bucketed AS (
      SELECT CASE WHEN grp_size >= {_K_ANON}
                  THEN '{_K_ANON}+' ELSE CAST(grp_size AS VARCHAR)
             END AS size_bucket,
             grp_size
      FROM qi
    )
    SELECT size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(grp_size) AS BIGINT) AS n_rows,
           CAST(MIN(grp_size) < {_K_ANON} AS BOOLEAN) AS at_risk
    FROM bucketed GROUP BY 1 ORDER BY size_bucket
    """,
)
def q_k_anonymity(spark, sf_dir):
    """K-ANONYMITY audit (k=5) over the quasi-identifier tuple
    (nation, market segment, $1000 balance band): group-size
    distribution of the QI grain with every group of size < k flagged
    at-risk — the re-identification check a privacy review runs before
    a dataset leaves the warehouse, and the input to a suppression/
    generalization plan (rows in at-risk buckets are the suppression
    cost; widening bal_band is the generalization knob).

    Scale shape: ONE partial-aggregated QI-grain count (the only
    shuffle — on the QI key), collapsed to a ≤k+1-row size-bucket
    report. Exact integers; the band is integer floor-division of
    cents."""
    cust = read_table(spark, sf_dir, "customer")
    shifted = F.round(F.col("c_acctbal") * 100).cast("bigint") + F.lit(1000000)
    band = (
        (shifted - F.pmod(shifted, F.lit(100000))) / F.lit(100000)
    ).cast("bigint") - F.lit(10)
    qi = cust.groupBy(
        "c_nationkey", "c_mktsegment", band.alias("bal_band")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("grp_size"))
    bucket = F.when(
        F.col("grp_size") >= _K_ANON, F.lit(f"{_K_ANON}+")
    ).otherwise(F.col("grp_size").cast("string"))
    return (
        qi.select(bucket.alias("size_bucket"), "grp_size")
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("grp_size").cast("bigint").alias("n_rows"),
            (F.min("grp_size") < _K_ANON).alias("at_risk"),
        )
        .orderBy("size_bucket")
    )


# SURVEY.md §2.4 profiling / Tier-A healing: the SELF-HEALING TRANSFORMS
# the repo is named for, as oracle-checked queries — MISSING-VALUE
# IMPUTATION (a deterministically damaged column healed with per-group
# exact medians, with a no-nulls-after witness) and WINSORIZATION
# (outlier capping at exact p1/p99 with clipped-mass accounting).
#
# Reference scope: the catalog app's EP2 'self-healing' flow repairs
# data before load (`APP/App.tsx:18-27` state machine,
# `geminiService.ts:64` column analysis); these are the two repairs
# every warehouse profiler recommends.


@query(
    "q_impute_missing",
    oracle="""
    WITH dirty AS (
      -- deterministic damage: ~5% of lines lose their discount
      -- (md5-threshold on the composite line key, same on both engines)
      SELECT l_returnflag AS flag,
             CASE WHEN SUBSTR(MD5(CAST(l_orderkey AS VARCHAR) || '-'
                              || CAST(l_linenumber AS VARCHAR)), 1, 2)
                       < '0d'
                  THEN NULL
                  ELSE CAST(ROUND(l_discount * 100) AS BIGINT) END AS dc
      FROM lineitem
    ), grain AS (
      SELECT flag, dc, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM dirty WHERE dc IS NOT NULL GROUP BY 1, 2
    ), med AS (
      SELECT flag, CAST(MIN(dc) AS BIGINT) AS median_dc
      FROM (
        SELECT flag, dc,
               SUM(cnt) OVER (PARTITION BY flag ORDER BY dc
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumw,
               SUM(cnt) OVER (PARTITION BY flag) AS total
        FROM grain
      ) WHERE 2 * cumw >= total GROUP BY flag
    )
    SELECT d.flag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN d.dc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           m.median_dc AS imputed_with,
           CAST(SUM(COALESCE(d.dc, m.median_dc)) AS BIGINT)
             AS healed_sum_cents,
           CAST(SUM(CASE WHEN COALESCE(d.dc, m.median_dc) IS NULL
                         THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
             AS clean_after
    FROM dirty d JOIN med m ON d.flag = m.flag
    GROUP BY d.flag, m.median_dc ORDER BY d.flag
    """,
)
def q_impute_missing(spark, sf_dir):
    """MISSING-VALUE IMPUTATION — the headline self-healing repair: a
    deterministically damaged discount column (~5% of lines NULLed by
    md5-threshold, rebuildable on both engines) heals with each return
    flag's EXACT lower median of the surviving values, and the query
    reports per flag: rows, missing count, the imputed value, the
    healed exact-cents mass, and the `clean_after` witness the oracle
    expects TRUE — zero NULLs remain (the property the Tier-A pipeline
    gate signs off on).

    Determinism: the median is rank selection on the (flag, value)
    grain (2·cumw ≥ total, integer arithmetic — the q_weighted_median
    discipline); healed sums are exact integers.

    Scale shape: the value grain is DOMAIN-bounded (discounts have ~11
    distinct cents values), so the median pass is a toy frame; the
    repair itself is one broadcast join + narrow coalesce over the
    fact — embarrassingly parallel."""
    li = read_table(spark, sf_dir, "lineitem")
    h = F.md5(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
    )
    dirty = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(F.substring(h, 1, 2) < "0d", F.lit(None)).otherwise(
            F.round(F.col("l_discount") * 100).cast("bigint")
        ).alias("dc"),
    )
    grain = (
        dirty.filter(F.col("dc").isNotNull())
        .groupBy("flag", "dc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wo = Window.partitionBy("flag").orderBy("dc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("flag")
    med = (
        grain.select(
            "flag",
            "dc",
            F.sum("cnt").over(wo).alias("cumw"),
            F.sum("cnt").over(wt).alias("total"),
        )
        .filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("flag")
        .agg(F.min("dc").cast("bigint").alias("median_dc"))
    )
    healed = F.coalesce(F.col("dc"), F.col("median_dc"))
    return (
        dirty.join(F.broadcast(med), "flag")
        .groupBy("flag", F.col("median_dc").alias("imputed_with"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("dc").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing"),
            F.sum(healed).cast("bigint").alias("healed_sum_cents"),
            (
                F.sum(F.when(healed.isNull(), 1).otherwise(0)) == 0
            ).alias("clean_after"),
        )
        .select(
            "flag",
            "n_rows",
            "n_missing",
            "imputed_with",
            "healed_sum_cents",
            "clean_after",
        )
        .orderBy("flag")
    )


@query(
    "q_winsorize",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ), grain AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY 1
    ), c AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumw,
             SUM(cnt) OVER () AS total
      FROM grain
    ), caps AS (
      SELECT MIN(CASE WHEN 100 * cumw >= total THEN v END) AS lo_cap,
             MIN(CASE WHEN 100 * cumw >= 99 * total THEN v END) AS hi_cap
      FROM c
    )
    SELECT CAST(caps.lo_cap AS BIGINT) AS lo_cap,
           CAST(caps.hi_cap AS BIGINT) AS hi_cap,
           CAST(SUM(CASE WHEN t.v < caps.lo_cap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN t.v > caps.hi_cap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(t.v) AS BIGINT) AS sum_before,
           CAST(SUM(GREATEST(caps.lo_cap, LEAST(caps.hi_cap, t.v)))
                AS BIGINT) AS sum_after
    FROM vals t, caps GROUP BY caps.lo_cap, caps.hi_cap
    """,
)
def q_winsorize(spark, sf_dir):
    """WINSORIZATION — the outlier repair beside imputation: order
    totals clamp to the exact [p1, p99] band (caps by rank selection:
    the smallest value whose cumulative mass reaches ⌈p·N⌉, as the
    integer test 100·cumw ≥ p·total), reporting the caps, how many
    rows clipped on each side, and the exact-cents mass before/after —
    the audit trail a healing pipeline must publish when it rewrites
    values.

    Scale shape: cap-finding runs on the VALUE GRAIN (price-domain
    bounded — q_histogram_equidepth's argument; swap in its two-phase
    running sum if the domain ever outgrows one partition); the clamp
    is a broadcast 1-row caps frame + narrow greatest/least over the
    fact. All exact integers."""
    o = read_table(spark, sf_dir, "orders")
    vals = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"))
    grain = vals.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = grain.select(
        "v",
        F.sum("cnt").over(wo).alias("cumw"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    caps = c.agg(
        F.min(
            F.when(100 * F.col("cumw") >= F.col("total"), F.col("v"))
        ).cast("bigint").alias("lo_cap"),
        F.min(
            F.when(100 * F.col("cumw") >= 99 * F.col("total"), F.col("v"))
        ).cast("bigint").alias("hi_cap"),
    )
    clamped = F.greatest(F.col("lo_cap"), F.least(F.col("hi_cap"), F.col("v")))
    return (
        vals.crossJoin(F.broadcast(caps))
        .groupBy("lo_cap", "hi_cap")
        .agg(
            F.sum(F.when(F.col("v") < F.col("lo_cap"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("v") > F.col("hi_cap"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
            F.sum("v").cast("bigint").alias("sum_before"),
            F.sum(clamped).cast("bigint").alias("sum_after"),
        )
        .select(
            "lo_cap", "hi_cap", "n_below", "n_above", "sum_before", "sum_after"
        )
    )


# SURVEY.md §2.11 DQ / LLM-pipeline: the KOLMOGOROV-SMIRNOV DRIFT
# statistic (max ECDF gap between two eras of the order-value
# distribution — the numeric-drift gate that catches what
# q_dq_category_drift's PSI catches for categoricals) and the EMBEDDING
# COVARIANCE MATRIX (dimension-pair cov/corr of the embedding space in
# ONE pass — the collapsed-dimension / anisotropy audit for
# representation quality, q_corr_matrix lifted onto array columns).
#
# Exactness: the KS gap compares ECDFs by CROSS-MULTIPLIED EXACT
# INTEGERS (|cum_a·n_b − cum_b·n_a| — no float ever enters the argmax),
# so the drift verdict is exact rational arithmetic; embedding floats
# become exact micro-units (×10⁶) and the centered-moment fence keeps
# every sum correctly rounded through BIGINT→DOUBLE.


# ECDF evaluation grid: cents >> 13 ($81.92 buckets). The KS of the
# bucketed ECDF lower-bounds the continuous KS and is the standard
# fixed-grid form a warehouse can evaluate without a global sort.
_KS_SHIFT = 13
# Superband width for the two-phase bucket-grain prefix sum.
_SUPER_SHIFT = 6


@query(
    "q_ks_drift",
    oracle=f"""
    WITH e AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) >> {_KS_SHIFT}
               AS bucket,
             (o_orderdate < TIMESTAMP '1998-01-01') AS pre
      FROM orders
    ), b AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM e GROUP BY 1
    ), c AS (
      SELECT bucket,
             SUM(n_a) OVER w AS cum_a, SUM(n_b) OVER w AS cum_b
      FROM b
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), t AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b
      FROM b
    )
    SELECT c.bucket AS at_bucket,
           CAST((c.bucket + 1) << {_KS_SHIFT} AS BIGINT) AS edge_cents,
           CAST(c.cum_a AS BIGINT) AS cum_pre,
           CAST(c.cum_b AS BIGINT) AS cum_post,
           t.tot_a AS n_pre, t.tot_b AS n_post,
           CAST(ABS(c.cum_a * t.tot_b - c.cum_b * t.tot_a) AS BIGINT)
             AS ks_num,
           CAST(ABS(c.cum_a * t.tot_b - c.cum_b * t.tot_a) AS DOUBLE)
             / (CAST(t.tot_a AS DOUBLE) * CAST(t.tot_b AS DOUBLE)) AS ks
    FROM c CROSS JOIN t
    ORDER BY ks_num DESC, at_bucket LIMIT 1
    """,
)
def q_ks_drift(spark, sf_dir):
    """TWO-SAMPLE KS DRIFT between pre-1998 and post-1998 order
    values: bucket both eras' cents onto a fixed $81.92 grid, build
    both ECDFs as exact integer prefix sums, and report the grid point
    with the largest gap — the numeric distribution-shift gate a
    training pipeline runs between snapshots before trusting a
    feature. The gap ranks by |cum_a·n_b − cum_b·n_a| (exact integer
    cross-multiplication), so the verdict never touches a float; the
    reported ks value is one final mirrored IEEE division.

    Scale shape: era counts are ONE partial-aggregated groupBy at
    bucket grain (bounded by value range / 8192, not by rows); the
    prefix sum is TWO-PHASE — per-superband subtotals (64 buckets
    each) cumulate over the tiny superband frame, then a narrow
    within-superband window — the q_gini_concentration /
    q_shard_assign pattern, so no window ever sees more than
    superband-count or 64 rows. TakeOrdered(1) picks the argmax."""
    orders = read_table(spark, sf_dir, "orders")
    e = orders.select(
        F.shiftright(
            F.round(F.col("o_totalprice") * 100).cast("bigint"), _KS_SHIFT
        ).alias("bucket"),
        (F.col("o_orderdate") < F.lit("1998-01-01")).alias("pre"),
    )
    b = e.groupBy("bucket").agg(
        F.sum(F.when(F.col("pre"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("pre"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_b"),
    ).withColumn("super", F.shiftright(F.col("bucket"), _SUPER_SHIFT))
    # Phase 1: superband subtotals → offsets (tiny frame).
    supers = b.groupBy("super").agg(
        F.sum("n_a").alias("sa"), F.sum("n_b").alias("sb")
    )
    ws = Window.orderBy("super").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = supers.select(
        "super",
        (F.sum("sa").over(ws) - F.col("sa")).alias("off_a"),
        (F.sum("sb").over(ws) - F.col("sb")).alias("off_b"),
    )
    # Phase 2: narrow within-superband running sum.
    ww = (
        Window.partitionBy("super")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = b.join(offsets, "super").select(
        "bucket",
        (F.col("off_a") + F.sum("n_a").over(ww)).alias("cum_a"),
        (F.col("off_b") + F.sum("n_b").over(ww)).alias("cum_b"),
    )
    t = b.agg(
        F.sum("n_a").cast("bigint").alias("tot_a"),
        F.sum("n_b").cast("bigint").alias("tot_b"),
    )
    num = F.abs(
        F.col("cum_a") * F.col("tot_b") - F.col("cum_b") * F.col("tot_a")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("bucket").alias("at_bucket"),
            F.shiftleft(F.col("bucket") + 1, _KS_SHIFT)
            .cast("bigint")
            .alias("edge_cents"),
            F.col("cum_a").cast("bigint").alias("cum_pre"),
            F.col("cum_b").cast("bigint").alias("cum_post"),
            F.col("tot_a").alias("n_pre"),
            F.col("tot_b").alias("n_post"),
            num.cast("bigint").alias("ks_num"),
            (
                num.cast("double")
                / (F.col("tot_a").cast("double") * F.col("tot_b").cast("double"))
            ).alias("ks"),
        )
        .orderBy(F.col("ks_num").desc(), F.col("at_bucket"))
        .limit(1)
    )


# Minimum distinct sensitive values per QI group (distinct
# l-diversity, Machanavajjhala et al. 2007).
_L = 3


@query(
    "q_l_diversity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 1000000) // 100000
               - 10 AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS grp_size,
             -- +1e6 shift: balances go negative and DuckDB's %
             -- truncates while Spark's pmod floors; they agree for
             -- non-negative dividends (1e6 % 10 = 0 keeps the digit)
             CAST(COUNT(DISTINCT
               ((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 1000000) % 10)
             ) AS BIGINT) AS l_sensitive
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(l_sensitive AS BIGINT) AS l_value,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(grp_size) AS BIGINT) AS n_rows,
           CAST(l_sensitive < {_L} AS BOOLEAN) AS at_risk
    FROM qi
    GROUP BY l_sensitive
    ORDER BY l_value
    """,
)
def q_l_diversity(spark, sf_dir):
    """L-DIVERSITY audit (l=3) on q_k_anonymity's QI grain (nation,
    segment, $1000 balance band): within each QI group, how many
    DISTINCT sensitive values (here the balance's last digit as the
    stand-in sensitive attribute) appear — a k-anonymous group whose
    members all share one sensitive value still leaks it, which is
    exactly what k-anonymity alone cannot see. Report: distribution
    of l across groups, rows in under-diverse groups flagged.

    Scale shape: ONE shuffle on the QI key with a distinct-count
    (partial aggregation on (QI, sensitive) then QI — Spark plans the
    two-level expand automatically), collapsed to a ≤l_max-row
    report. Pure integer counting; no floats anywhere."""
    cust = read_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    qi = cust.select(
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        (
            F.floor((cents + 1000000) / 100000) - 10
        ).cast("bigint").alias("bal_band"),
        F.pmod(cents + 1000000, F.lit(10)).alias("sensitive"),
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_size"),
        F.countDistinct("sensitive").cast("bigint").alias("l_sensitive"),
    )
    return (
        groups.groupBy(F.col("l_sensitive").alias("l_value"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("grp_size").cast("bigint").alias("n_rows"),
        )
        .withColumn("at_risk", F.col("l_value") < _L)
        .select("l_value", "n_groups", "n_rows", "at_risk")
        .orderBy("l_value")
    )


_SHIP_SLA_DAYS = 365


@query(
    "q_dq_temporal_consistency",
    oracle=f"""
    WITH j AS (
      SELECT STRFTIME(o.o_orderdate, '%Y-%m') AS order_month,
             DATE_DIFF('day', o.o_orderdate, l.l_shipdate) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT order_month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS shipped_before_order,
           CAST(SUM(CASE WHEN lag_days > {_SHIP_SLA_DAYS} THEN 1 ELSE 0 END)
             AS BIGINT) AS shipped_past_sla,
           CAST(SUM(CASE WHEN lag_days >= 0
                          AND lag_days <= {_SHIP_SLA_DAYS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           CAST(MIN(lag_days) AS BIGINT) AS min_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM j GROUP BY order_month
    HAVING SUM(CASE WHEN lag_days < 0 OR lag_days > {_SHIP_SLA_DAYS}
               THEN 1 ELSE 0 END) > 0
    ORDER BY order_month
    """,
)
def q_dq_temporal_consistency(spark, sf_dir):
    """TEMPORAL CONSISTENCY audit: per order month, lines whose ship
    date precedes the order date (impossible — a key-integrity-passing
    row that is still wrong) or trails it by more than a year (stale
    linkage / unit confusion). The cross-table DATE rule that
    completes the DQ suite: q_dq_fk_orphans checks the key exists,
    this checks the TIMELINE makes sense. Only months with violations
    are reported (the actionable set).

    Scale shape: one fact-fact equi-join on the order key (both sides
    shuffle-partitioned alike), one month-grain conditional rollup —
    no window, no SinglePartition. Day lags are exact integers
    (date-boundary diffs, identical in both engines)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lag_days"),
    )
    viol = (
        (F.col("lag_days") < 0)
        | (F.col("lag_days") > _SHIP_SLA_DAYS)
    )
    return (
        j.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("lag_days") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("shipped_before_order"),
            F.sum(
                F.when(F.col("lag_days") > _SHIP_SLA_DAYS, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("shipped_past_sla"),
            F.sum(F.when(viol, 0).otherwise(1))
            .cast("bigint")
            .alias("n_consistent"),
            F.min("lag_days").cast("bigint").alias("min_lag_days"),
            F.max("lag_days").cast("bigint").alias("max_lag_days"),
            F.sum(F.when(viol, 1).otherwise(0)).alias("_n_viol"),
        )
        .where(F.col("_n_viol") > 0)
        .drop("_n_viol")
        .orderBy("order_month")
    )


# SURVEY.md §2.11 DQ / warehouse integrity: LEDGER RECONCILIATION
# (order-header totals tied against the sum of their lines — the
# subledger-to-ledger tie-out every finance close runs, reported as a
# signed magnitude-decade histogram of the exact cent deltas) and SCD2
# INTEGRITY (validity-interval audit over the q_scd2_versions build:
# zero-length versions from same-day ties, exactly-one-current per key,
# monotone starts — the contract checks a dimension table must pass
# before anyone joins it point-in-time).
#
# Exactness: all deltas and counters are exact integer cents/counts;
# the only doubles are display-only shares.


@query(
    "q_ledger_reconciliation",
    oracle="""
    WITH l AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY 1
    ), d AS (
      SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
               - COALESCE(l.line_cents, 0) AS delta
      FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
    ), b AS (
      SELECT CASE WHEN delta = 0 THEN 0
                  WHEN delta > 0 THEN CAST(FLOOR(LOG10(delta)) AS BIGINT) + 1
                  ELSE -(CAST(FLOOR(LOG10(-delta)) AS BIGINT) + 1) END
               AS decade,
             delta
      FROM d
    )
    SELECT decade,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(delta) AS BIGINT) AS total_delta_cents,
           CAST(MIN(delta) AS BIGINT) AS min_delta,
           CAST(MAX(delta) AS BIGINT) AS max_delta
    FROM b GROUP BY decade ORDER BY decade
    """,
)
def q_ledger_reconciliation(spark, sf_dir):
    """LEDGER RECONCILIATION: per order, header total minus the sum of
    its lines under the TPC-H pricing law extendedprice·(1−disc)·
    (1+tax), in exact cents, rolled into a SIGNED MAGNITUDE-DECADE
    histogram (decade 0 = ties exactly; +3 = off by $1–10 in the
    header's favor; …) — the subledger tie-out a finance close runs
    nightly. On this synthetic fixture the header totals do NOT tie
    to the lines (0 of ~15k orders at decade 0) — precisely the
    finding the report exists to surface; orders with no lines land
    in the full-header-delta decades via the LEFT join.

    Scale shape: one key-grain line aggregate, one co-partitionable
    LEFT join, one bounded (~20-row) decade rollup. Exact integers
    end to end; LOG10 of an exact positive integer buckets
    identically on both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    l = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("line_cents")
    )
    d = o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            - F.coalesce(F.col("line_cents"), F.lit(0))
        ).alias("delta")
    )
    decade = (
        F.when(F.col("delta") == 0, F.lit(0))
        .when(
            F.col("delta") > 0,
            F.floor(F.log10(F.col("delta"))).cast("bigint") + 1,
        )
        .otherwise(-(F.floor(F.log10(-F.col("delta"))).cast("bigint") + 1))
    )
    return (
        d.select(decade.alias("decade"), "delta")
        .groupBy("decade")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("delta").cast("bigint").alias("total_delta_cents"),
            F.min("delta").cast("bigint").alias("min_delta"),
            F.max("delta").cast("bigint").alias("max_delta"),
        )
        .orderBy("decade")
    )


@query(
    "q_scd2_integrity",
    oracle="""
    WITH v AS (
      SELECT o_custkey AS k, o_orderdate AS eff_from,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS eff_to
      FROM orders
    ), per_key AS (
      SELECT k,
             CAST(COUNT(*) AS BIGINT) AS n_versions,
             CAST(SUM(CASE WHEN eff_to = eff_from THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_zero_len,
             CAST(SUM(CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_current,
             CAST(SUM(CASE WHEN eff_to < eff_from THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_inverted
      FROM v GROUP BY k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_versions) AS BIGINT) AS n_versions,
           CAST(SUM(n_zero_len) AS BIGINT) AS n_zero_length,
           CAST(SUM(CASE WHEN n_current <> 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_bad_current,
           CAST(SUM(n_inverted) AS BIGINT) AS n_inverted,
           CAST(MAX(n_versions) AS BIGINT) AS max_versions_per_key,
           CAST(SUM(n_zero_len) AS DOUBLE) / CAST(SUM(n_versions) AS DOUBLE)
             AS zero_length_share
    FROM per_key
    """,
)
def q_scd2_integrity(spark, sf_dir):
    """SCD2 INTEGRITY AUDIT over the q_scd2_versions construction:
    zero-length versions (same-day ties make effective_from =
    effective_to — rows a point-in-time join can NEVER return, the
    silent data-loss mode of lead()-built SCD2), exactly-one-current
    per key (keys_bad_current must be 0 by construction — the oracle
    pins it), inverted intervals (must be 0 — lead over the sort key
    can't go backwards), and the version-count ceiling. These are the
    contract checks run before anyone trusts q_join_pit /
    q_bitemporal against a dimension.

    Scale shape: the same single per-key lead window the SCD2 build
    uses (parallel by key), one key-grain conditional aggregate, and
    a 1-row corpus rollup."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    v = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("eff_from"),
        F.lead("o_orderdate").over(w).alias("eff_to"),
    )
    per_key = v.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        F.sum(
            F.when(F.col("eff_to") == F.col("eff_from"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_zero_len"),
        F.sum(F.when(F.col("eff_to").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_current"),
        F.sum(
            F.when(F.col("eff_to") < F.col("eff_from"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_inverted"),
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n_versions").cast("bigint").alias("n_versions"),
        F.sum("n_zero_len").cast("bigint").alias("n_zero_length"),
        F.sum(F.when(F.col("n_current") != 1, 1).otherwise(0))
        .cast("bigint")
        .alias("keys_bad_current"),
        F.sum("n_inverted").cast("bigint").alias("n_inverted"),
        F.max("n_versions").cast("bigint").alias("max_versions_per_key"),
        (
            F.sum("n_zero_len").cast("double")
            / F.sum("n_versions").cast("double")
        ).alias("zero_length_share"),
    )


_WINDOW_DAYS = 7


@query(
    "q_double_payment",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS first_orderkey,
           b.o_orderkey AS second_orderkey,
           CAST(CAST(b.o_orderdate AS DATE) - CAST(a.o_orderdate AS DATE)
                AS BIGINT) AS days_apart,
           CAST(ABS(b.cents - a.cents) AS BIGINT) AS cents_delta,
           CASE WHEN b.cents = a.cents THEN TRUE ELSE FALSE END
             AS is_exact_dup,
           CAST(ABS(b.cents - a.cents) AS DOUBLE)
             / CAST(GREATEST(a.cents, b.cents) AS DOUBLE) AS rel_delta
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND CAST(b.o_orderdate AS DATE) - CAST(a.o_orderdate AS DATE)
         BETWEEN -{_WINDOW_DAYS} AND {_WINDOW_DAYS}
    ORDER BY cents_delta, custkey, first_orderkey, second_orderkey
    LIMIT 25
    """,
)
def q_double_payment(spark, sf_dir):
    """DOUBLE-PAYMENT SUSPECT QUEUE: same-customer order pairs within
    ±7 days, ranked by exact cents delta ascending — the review queue
    a billing/AP audit triages (delta 0 = textbook duplicate payment;
    near-zero deltas are retry-with-fee / partial-capture patterns).
    On this fixture no pair ties exactly (is_exact_dup all false —
    itself a finding), so the queue surfaces the nearest-amount
    pairs a reviewer would check first. Structured-data dedup beside
    the text family (q_dedup_*, q_media_dedup).

    Scale shape: the self-join is EQUI on custkey (co-partitionable;
    candidates bounded by each customer's orders within the ±7-day
    band, enforced as a residual), exact integer cents/day deltas,
    and a top-25 TakeOrderedAndProject with a full unique tie-break.
    At warehouse scale the blocking key extends to (custkey,
    week-bucket) to bound per-task candidates; the fixture's ~500
    in-window pairs don't need it."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    b = o.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_custkey").alias("c2"),
        F.col("o_orderdate").alias("d2"),
        F.col("cents").alias("cents2"),
    )
    days = F.datediff(F.col("d2").cast("date"), F.col("o_orderdate").cast("date"))
    delta = F.abs(F.col("cents2") - F.col("cents"))
    return (
        o.join(b, (o.o_custkey == b.c2) & (o.o_orderkey < b.k2))
        .where(days.between(-_WINDOW_DAYS, _WINDOW_DAYS))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("k2").alias("second_orderkey"),
            days.cast("bigint").alias("days_apart"),
            delta.cast("bigint").alias("cents_delta"),
            (F.col("cents2") == F.col("cents")).alias("is_exact_dup"),
            (
                delta.cast("double")
                / F.greatest(F.col("cents"), F.col("cents2")).cast("double")
            ).alias("rel_delta"),
        )
        .orderBy("cents_delta", "custkey", "first_orderkey", "second_orderkey")
        .limit(25)
    )


# SURVEY.md §2.11: ORDER-INDEPENDENT TABLE CHECKSUMS (verify two copies
# of a 100 TB table agree WITHOUT moving or sorting either — the
# reconciliation primitive behind replication audits, migration cutovers
# and the read-back-verify pipeline stage) and zlib COMPRESSIBILITY
# quality scoring (the Gopher-family filter: highly compressible text is
# repetitive boilerplate, incompressible text is noise/binary junk).
#
# Exactness: the checksum folds each row's md5 into a 60-bit integer via
# positional hex-digit arithmetic (the repo's portable-hash convention)
# and SUMS them in DECIMAL(38,0) — commutative, so partition order can't
# matter, and exact to ~1e38 (≈1e12 rows × 2^60 ≈ 1.2e30), emitted as a
# digit string both engines render identically. Compression ratios are
# not SQL-expressible (no zlib in DuckDB) → rows-only with in-row
# bounds witnesses.


_HEX = "0123456789abcdef"


def _hex_digit_value(col, i: int):
    """Value of the i-th (1-based) hex digit of a lowercase hex string,
    via position-in-alphabet arithmetic (portable across engines)."""
    return F.instr(F.lit(_HEX), F.substring(col, i, 1)) - 1


_CHECKSUM_TABLES = (
    ("region", ("r_regionkey", "r_name")),
    ("nation", ("n_nationkey", "n_name", "n_regionkey")),
    ("customer", ("c_custkey", "c_mktsegment", "c_nationkey")),
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus")),
)


def _oracle_checksum(tbl: str, cols: tuple) -> str:
    concat = ", '|', ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    digits = " + ".join(
        f"(STRPOS('{_HEX}', SUBSTR(h, {i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
    SELECT '{tbl}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0))
                AS VARCHAR) AS checksum
    FROM (SELECT {digits} AS v
          FROM (SELECT MD5(CONCAT({concat})) AS h FROM {tbl}))
    """


@query(
    "q_table_checksum",
    oracle="\nUNION ALL\n".join(
        _oracle_checksum(t, cs) for t, cs in _CHECKSUM_TABLES
    )
    + "\nORDER BY table_name",
)
def q_table_checksum(spark, sf_dir):
    """ORDER-INDEPENDENT content checksum per table: fold every row's
    md5 (over a '|'-joined column tuple) into a 60-bit integer and SUM
    — addition commutes, so ANY partitioning, file order or engine
    produces the same digits, which is the whole point: two sides of a
    replication/migration compare one (n_rows, checksum) row per table
    instead of shipping data. This is the content-level deepening of
    the pipeline's read-back-verify stage (the reference re-reads its
    loaded table to confirm row count; the checksum confirms VALUES).

    The sum runs in DECIMAL(38,0): exact to ~1e38 ≈ 1e12 rows × 2^60,
    so no modular reduction is needed at any realistic scale, and the
    result is emitted as a digit string both engines render
    identically. Scale shape: one scan + one row-local md5 + one
    partial-aggregated fold per table; no sort, no shuffle of rows —
    the exchange carries one partial sum per partition."""
    frames = []
    for tbl, cols in _CHECKSUM_TABLES:
        t = read_table(spark, sf_dir, tbl)
        h = F.md5(
            F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        )
        # bigint from the first multiply: a 16^7-scale weight is an
        # int32 literal and 15 * 16^7 overflows INT under ANSI mode
        v = sum(
            _hex_digit_value(h, i).cast("bigint")
            * F.lit(16 ** (15 - i)).cast("bigint")
            for i in range(1, 16)
        )
        frames.append(
            t.select(v.cast("decimal(38,0)").alias("v")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("v").cast("decimal(38,0)").cast("string").alias(
                    "checksum"
                ),
            ).select(
                F.lit(tbl).alias("table_name"), "n_rows", "checksum"
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("table_name")
