"""Scan, join, sort and set-operation queries (SURVEY.md §2.1-§2.3, §2.6, §2.7).

Scans over parquet, CSV, JSON, ORC, binary files and the paged API source;
partition pruning and the partition advisor; previews, casts and
projections; the ingest routing keys (quarantine, merge-upsert, SCD2,
schema evolution); equi, range, as-of, lateral, null-safe, bucketed and
salted joins with runtime join pruning; subquery decorrelation; top-k and
multi-key sorts; and the UNION / INTERSECT / EXCEPT family.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.functions.scalar import dec, dsum, ts_str
from self_healing_data_pipeline_spark.operators.relational import (
    asof_join,
    range_join,
    top_k,
)
from self_healing_data_pipeline_spark.operators.skew import salted_join
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.session import scratch_dir
from self_healing_data_pipeline_spark.sources.api_source import register_api_source
from self_healing_data_pipeline_spark.sources.readers import (
    read_csv,
    read_json,
    read_table,
)


# Core scan / preview / cast queries (SURVEY.md §2.1, §2.2, build step 1).


@query(
    "q_scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan_parquet(spark, sf_dir):
    """Columnar scan with projection pruning (ReadSchema shows 2 cols)."""
    return read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "q_scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv(spark, sf_dir):
    """CSV scan: header + inferSchema (reference dynamic-typing twin).

    Round-trips the nation fixture through CSV so the values under test are
    the driver's, not synthesized.
    """
    out = scratch_dir("nation_csv", sf_dir)
    read_table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(out)
    return read_csv(spark, out).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "q_scan_json",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_scan_json(spark, sf_dir):
    """JSON scan (JSONL) with schema inference over all rows — the fix for
    the reference's first-row-keys schema rule (SURVEY.md §1.1)."""
    out = scratch_dir("supplier_json", sf_dir)
    read_table(spark, sf_dir, "supplier").coalesce(1).write.mode("overwrite").json(out)
    df = read_json(spark, out, multi_line=False)
    return df.select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )


@query(
    "q_preview_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 10
    """,
)
def q_preview_limit(spark, sf_dir):
    """SELECT * LIMIT n preview read-back (reference pgliteService.ts:81-101)
    under a total order so the preview is deterministic. The fixture's
    (l_orderkey, l_linenumber) is NOT unique (the q_inventory_floor
    round-12 find), so the sort extends to every selected column —
    rows equal on all four are interchangeable in a LIMIT, making the
    preview layout-independent on both engines (round-12 queued
    tie-order batch)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .limit(10)
    )


@query("q_rowcount", oracle="SELECT COUNT(*) AS n_rows FROM lineitem")
def q_rowcount(spark, sf_dir):
    return read_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "q_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           CAST(o_orderkey AS DOUBLE) AS key_dbl
    FROM orders
    """,
)
def q_cast(spark, sf_dir):
    """Type-lattice casts (SURVEY.md §1.2): double→bigint (explicit floor —
    Spark truncates, DuckDB rounds, so raw CAST is not portable),
    long↔string, timestamp→date→string, long→double."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
    )


@query(
    "q_project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def q_project(spark, sf_dir):
    """Column projection — pruned at the parquet scan."""
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_filter_pred",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice BETWEEN 1000 AND 150000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_custkey IS NOT NULL
    """,
)
def q_filter_pred(spark, sf_dir):
    """Conjunctive predicate surface (=, BETWEEN, IN, >=, IS NOT NULL) —
    all pushed to the parquet scan (PushedFilters in .explain)."""
    o = read_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_totalprice").between(1000, 150000)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# Join / sort / set-op queries (SURVEY.md §2.3, §2.6, §2.7, build step 2).


@query(
    "q_join_inner",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q_join_inner(spark, sf_dir):
    """Inner equi-join; AQE picks broadcast (customer is small) vs SMJ."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_outer(spark, sf_dir):
    """Left outer join keeping customers with zero orders (COUNT(col)
    skips the null-extended rows on both engines)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def q_join_broadcast(spark, sf_dir):
    """Star-schema join with explicit broadcast of the tiny dims — no
    shuffle of the fact side; each executor hash-probes local dim copies."""
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal").alias("total_bal"),
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "q_join_semi_anti",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders
    """,
)
def q_join_semi_anti(spark, sf_dir):
    """LEFT SEMI (EXISTS) and LEFT ANTI (NOT EXISTS) in one result row."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("n_with_orders")
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n_without_orders")
    )
    return semi.crossJoin(anti)


@query(
    "q_join_range",
    oracle="""
    SELECT s.s_suppkey,
           COUNT(c.c_custkey) AS n_close_customers
    FROM supplier s
    LEFT JOIN customer c
      ON c.c_acctbal BETWEEN s.s_acctbal - 50 AND s.s_acctbal + 50
    GROUP BY s.s_suppkey
    """,
)
def q_join_range(spark, sf_dir):
    """Non-equi (band) range join via ``operators.relational.range_join``:
    both sides bucketize on floor(acctbal/band_width), the supplier side
    explodes into its bucket and both neighbors, and Catalyst gets an
    EQUI-join (bucket equality + residual BETWEEN) it can shuffle-hash.
    The plain theta-join form plans BroadcastNestedLoopJoin with the
    corpus-growing CUSTOMER side as the build relation — an O(n·m)
    compare and a cluster OOM at real scale; the banded form compares
    each supplier only against the ≤3 buckets that can hold a match.
    LEFT semantics (suppliers with zero close customers) come back via
    a supplier-grain left join onto the banded inner-join counts —
    identical to counting over the outer theta join, because COUNT(c)
    ignores the NULL row a matchless supplier gets there."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cond = c["c_acctbal"].between(s["s_acctbal"] - 50, s["s_acctbal"] + 50)
    matched = range_join(
        s,
        c,
        cond,
        left_value=s["s_acctbal"],
        right_value=c["c_acctbal"],
        band_width=50.0,
    )
    counts = matched.groupBy("s_suppkey").agg(
        F.count("c_custkey").alias("n")
    )
    return (
        s.select("s_suppkey")
        .join(counts, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias(
                "n_close_customers"
            ),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT p.event_id,
           CAST(STRFTIME((SELECT MAX(c.ts) FROM events c
                           WHERE c.event_type = 'click'
                             AND c.user_id = p.user_id
                             AND c.ts <= p.ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS last_click
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof(spark, sf_dir):
    """As-of join: attribute each purchase to the user's latest click at or
    before it. Union+window composition — one shuffle on user_id, no
    per-row subquery (the correlated form is the oracle, not the plan)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=[],
    )
    return joined.select(
        "event_id", ts_str("asof_ts").alias("last_click")
    )


@query(
    "q_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sort_multi(spark, sf_dir):
    """Multi-key sort (asc/desc mixed) with unique tie-break + limit."""
    return (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(
            F.col("o_orderpriority").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def q_topk(spark, sf_dir):
    """Top-k — Spark plans TakeOrderedAndProject (heap per partition,
    merge of k·partitions rows; no global sort)."""
    return top_k(
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        25,
    )


@query(
    "q_set_union",
    oracle="""
    SELECT key_val, src FROM (
      SELECT DISTINCT o_custkey AS key_val, 'orders' AS src FROM orders
      UNION ALL
      SELECT DISTINCT c_custkey AS key_val, 'customer' AS src FROM customer
    )
    """,
)
def q_set_union(spark, sf_dir):
    """UNION ALL (by name) of two conformed projections."""
    o = (
        read_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key_val"))
        .distinct()
        .withColumn("src", F.lit("orders"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("key_val"))
        .distinct()
        .withColumn("src", F.lit("customer"))
    )
    return o.unionByName(c)


@query(
    "q_set_intersect",
    oracle="""
    SELECT o_custkey AS key_val FROM orders
    INTERSECT
    SELECT c_custkey FROM customer
    """,
)
def q_set_intersect(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key_val")
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key_val")
    )
    return o.intersect(c)


@query(
    "q_set_except",
    oracle="""
    SELECT c_custkey AS key_val FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    """,
)
def q_set_except(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key_val")
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key_val")
    )
    # subtract = set EXCEPT; exceptAll().distinct() is multiset subtraction
    # and keeps left values whose multiplicity merely exceeds the right's.
    return c.subtract(o)


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, p.o_orderpriority, COUNT(*) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    CROSS JOIN nation n
    WHERE n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, p.o_orderpriority
    """,
)
def q_join_cross(spark, sf_dir):
    """Cartesian product of small dims (broadcast nested loop) + filter."""
    r = read_table(spark, sf_dir, "region")
    p = read_table(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    n = read_table(spark, sf_dir, "nation")
    return (
        r.crossJoin(p)
        .crossJoin(n)
        .filter(F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           o_totalprice - (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                           FROM orders) AS diff_from_mean
    FROM orders
    """,
)
def q_subquery_scalar(spark, sf_dir):
    """Scalar subquery (global mean) — planned as a broadcast of the 1-row
    aggregate, not a per-row subquery."""
    o = read_table(spark, sf_dir, "orders")
    mean = o.agg(
        (dsum("o_totalprice") / F.count(F.lit(1)).cast("double")).alias("__mean")
    )
    return o.crossJoin(F.broadcast(mean)).select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") - F.col("__mean")).alias("diff_from_mean"),
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN nation n    ON n.n_nationkey = c.c_nationkey
    JOIN region r    ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
)
def q_join_multiway(spark, sf_dir):
    """TPC-H-Q5-shaped 5-table join: fact chain (lineitem→orders→customer)
    plus broadcast dims (nation, region). Catalyst reorders and AQE picks
    broadcast for every dim side — the region filter prunes before the
    fact join, so only matching customers shuffle."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    disc = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "nation_name")
    )


@query(
    "q_subquery_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def q_subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery (orders 1.5× above their customer's
    mean), decorrelated to a window aggregate — one shuffle on o_custkey
    instead of a per-row subquery. Exact-decimal mean keeps the float
    comparison bit-identical across engines (functions.scalar)."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    mean = (
        F.sum(dec("o_totalprice", precision=18)).over(w).cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    )
    return (
        o.withColumn("__mean", mean)
        .filter(F.col("o_totalprice") > 1.5 * F.col("__mean"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# Scale-path queries with exact oracles: skew-salted aggregation/join
# (SURVEY.md §4 tuning, `operators/skew.py`), equi-width histogram
# profiling (§2.4), and bigram extraction via higher-order array functions
# (§2.8, §2.11 text analysis).
#
# The salted variants are oracle-checked against the PLAIN formulation:
# salting must be a pure physical rewrite — same rows out, hot keys spread
# over `salt` reducers. Locking that equivalence into the correctness gate
# is what makes the skew path safe to reach for at 100 TB.


@query(
    "q_skew_salted_join",
    oracle="""
    SELECT s.s_name,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def q_skew_salted_join(spark, sf_dir):
    """Salted fact-to-dimension join: lineitem rows get a deterministic
    hash salt, supplier is replicated ×salt, join on (key, salt). The
    oracle is the unsalted join — same result set, no straggler reducer.
    Shuffle trade: |lineitem| + salt·|supplier| for salt-way parallelism
    on hot supplier keys."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(
        li, sup, key="l_suppkey", salt=8, fingerprint_cols=["l_extendedprice"]
    )
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("total_price"),
    )


@query(
    "q_scan_orc",
    oracle="SELECT p_partkey, p_brand, p_size, p_retailprice FROM part",
)
def q_scan_orc(spark, sf_dir):
    """ORC scan (columnar alternative to parquet, same pushdown/pruning
    machinery in Spark). Round-trips the part fixture through ORC so the
    values under test are the driver's; the oracle reads the original
    parquet — format change must be value-invisible."""
    from self_healing_data_pipeline_spark.session import scratch_dir

    out = scratch_dir("part_orc", sf_dir)
    read_table(spark, sf_dir, "part").write.mode("overwrite").orc(out)
    return spark.read.orc(out).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_bucketed(spark, sf_dir):
    """Join over pre-bucketed tables: both sides bucketed+sorted on the
    join key at write time (sources.writers.write_bucketed_table), so the
    join itself plans with NO shuffle and no sort — the ingest-time
    layout investment every repeated large-large join at 100 TB should
    make. The oracle is the plain join (layout must be value-invisible).
    """
    import os

    from self_healing_data_pipeline_spark.session import scratch_dir
    from self_healing_data_pipeline_spark.sources.writers import (
        write_bucketed_table,
    )

    root = scratch_dir("bucketed", sf_dir)
    n_buckets = 8
    for tbl, key, cols in (
        ("orders", "o_custkey", ["o_orderkey", "o_custkey", "o_totalprice"]),
        ("customer", "c_custkey", ["c_custkey", "c_name"]),
    ):
        name = f"{tbl}_bucketed"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed_table(
            read_table(spark, sf_dir, tbl).select(*cols),
            name,
            [key],
            n_buckets=n_buckets,
            sort_cols=[key],
            mode="overwrite",
            path=os.path.join(root, name),
        )
    o = spark.table("orders_bucketed")
    c = spark.table("customer_bucketed")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@query(
    "q_scan_partition_pruned",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
    """,
)
def q_scan_partition_pruned(spark, sf_dir):
    """Directory-partitioned layout + partition pruning: orders written
    once partitioned by order year, then scanned with a partition filter —
    the scan touches ONLY the matching directory (PartitionFilters in the
    plan, asserted in tests). At 100 TB this is the difference between
    reading one year and reading the decade. The oracle filters the
    original table — layout must be value-invisible."""
    import os

    from self_healing_data_pipeline_spark.session import SCRATCH_ROOT
    from self_healing_data_pipeline_spark.sources.writers import write_parquet

    out = os.path.join(SCRATCH_ROOT, f"orders_by_year_{os.path.basename(sf_dir)}")
    # Write once per SF, reuse across calls; gate on the _SUCCESS marker so
    # an interrupted earlier write re-runs instead of poisoning every call.
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        write_parquet(
            read_table(spark, sf_dir, "orders").withColumn(
                "o_year", F.year("o_orderdate")
            ),
            out,
            mode="overwrite",
            partition_by=["o_year"],
        )
    return (
        spark.read.parquet(out)
        .filter(F.col("o_year") == 1997)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


# Ingestion routing queries (SURVEY.md §2.1 "API/connector sources").
#
# Batch twins of ``streaming.ingest.incremental_ingest_with_quarantine``:
# records arrive as serialized feed payloads (the API-extractor landing
# pattern), get parsed under a frozen schema, and are ROUTED — loaded,
# malformed (unparseable), or missing a required field — instead of silently
# nulled or fatally failing the job. The routing aggregate is fully
# oracle-checked: the corruption rule is deterministic on event_id, so the
# expected per-route counts and loaded-value sums are plain ANSI SQL over
# the raw table.
#
# At 100 TB: parse + route is a narrow map (no shuffle); the only shuffle is
# the 3-group aggregate. A bad feed page costs its own rows, not the load.


_FEED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@query(
    "q_ingest_quarantine",
    oracle="""
    SELECT CASE WHEN event_id % 37 = 0 THEN 'malformed'
                WHEN event_id % 41 = 0 THEN 'missing_required_field'
                ELSE 'loaded' END AS status,
           COUNT(*) AS n_records,
           CAST(SUM(CASE WHEN event_id % 37 <> 0 AND event_id % 41 <> 0
                         THEN CAST(ROUND(value * 100) AS BIGINT) END)
                AS DOUBLE) / 100.0 AS sum_value_loaded
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_ingest_quarantine(spark, sf_dir):
    """Schema-enforced feed ingestion with quarantine routing.

    Simulates the API-connector path end-to-end inside one plan: each
    event serializes to a JSON feed record (to_json); a deterministic
    fault model corrupts every 37th record (truncation → unparseable) and
    nulls the required user_id on every 41st; from_json re-parses under
    the frozen schema and each record routes to loaded / malformed /
    missing_required_field exactly as the streaming quarantine does. The
    oracle recomputes the expected routing from the raw table, so parse
    failure detection itself is verified, not just row counts. The loaded
    sum accumulates exact integer cents (ROUND(value·100) → BIGINT) rather
    than double→DECIMAL casts: decimal tie rounding of a raw double is
    engine-defined, while integer sums are order-insensitive and exact, so
    the oracle stays stable under fixture regeneration.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        # fault model (part 1): drop the required field pre-serialization
        F.when(F.col("event_id") % 41 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        "value",
    )
    feed = ev.select(
        F.col("event_id").alias("src_id"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias(
            "payload"
        ),
    )
    # fault model (part 2): truncate every 37th payload → invalid JSON
    feed = feed.withColumn(
        "payload",
        F.when(
            F.col("src_id") % 37 == 0,
            F.expr("substring(payload, 1, length(payload) - 5)"),
        ).otherwise(F.col("payload")),
    )
    parsed = feed.select(
        "src_id", F.from_json("payload", _FEED_SCHEMA).alias("rec")
    )
    status = (
        # PERMISSIVE from_json yields an all-null struct for unparseable
        # input; event_id is never null in a well-formed record, so a null
        # rec.event_id identifies a malformed payload.
        F.when(F.col("rec.event_id").isNull(), "malformed")
        .when(F.col("rec.user_id").isNull(), "missing_required_field")
        .otherwise("loaded")
    )
    return (
        parsed.select(
            status.alias("status"),
            F.col("rec.value").alias("value"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            (
                F.sum(
                    F.when(
                        F.col("status") == "loaded",
                        F.round(F.col("value") * 100).cast("bigint"),
                    )
                ).cast("double")
                / 100.0
            ).alias("sum_value_loaded"),
        )
        .orderBy("status")
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH source AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CAST(10 AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 11 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, 42.0
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           COALESCE(s.price, t.o_totalprice) AS final_price,
           CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
                WHEN s.o_orderkey IS NULL THEN 'unchanged'
                ELSE 'updated' END AS action
    FROM orders t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert semantics as a Catalyst plan: a deterministic
    source batch (price updates for existing keys, inserts for new keys)
    merged into the orders table via FULL OUTER JOIN + COALESCE — matched
    rows take the source value, unmatched-source rows insert, everything
    else passes through, each tagged with its action. This is the
    row-level-update idiom for plain parquet tables (a lakehouse format
    turns the same plan into a transactional MERGE; the join-on-key
    shape — shuffle both sides on the merge key, or broadcast a small
    batch — is identical). Decimal arithmetic keeps updated prices
    bit-identical across engines."""
    o = read_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.lit(10).cast("decimal(18,2)")
        )
        .cast("double")
        .alias("price"),
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit(42.0).alias("price"),
    )
    source = updates.unionByName(inserts)
    t = o.select("o_orderkey", "o_totalprice").alias("t")
    s = source.alias("s")
    return t.join(
        s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer"
    ).select(
        F.coalesce(F.col("t.o_orderkey"), F.col("s.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.coalesce(F.col("s.price"), F.col("t.o_totalprice")).alias(
            "final_price"
        ),
        F.when(F.col("t.o_orderkey").isNull(), "inserted")
        .when(F.col("s.o_orderkey").isNull(), "unchanged")
        .otherwise("updated")
        .alias("action"),
    )


@query(
    "q_scd2_versions",
    oracle="""
    SELECT o_custkey,
           o_orderkey AS version_key,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS effective_from,
           STRFTIME(LEAD(o_orderdate) OVER w, '%Y-%m-%d') AS effective_to,
           (LEAD(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2_versions(spark, sf_dir):
    """Slowly-changing-dimension type 2 build: each customer's orders
    become versioned rows with [effective_from, effective_to) validity —
    effective_to is the next version's start (NULL = current). One lead()
    window over (key, time, tie-break); a single shuffle on the dimension
    key builds the full version history, the standard warehouse pattern
    for tracking attribute changes over time."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        F.col("o_orderkey").alias("version_key"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("effective_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT event_id, CAST(user_id AS INTEGER) AS user_id, event_type
      FROM events WHERE ts < TIMESTAMP '2024-04-01 00:00:00'
    ), v2 AS (
      SELECT event_id, user_id, value, props
      FROM events WHERE ts >= TIMESTAMP '2024-04-01 00:00:00'
    ), unioned AS (
      SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
             CAST(NULL AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS props
      FROM v1
      UNION ALL
      SELECT event_id, user_id, CAST(NULL AS VARCHAR), value, props
      FROM v2
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(event_type) AS n_event_type,
           COUNT(value) AS n_value,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM unioned
    """,
)
def q_schema_evolution(spark, sf_dir):
    """Self-healing schema evolution (the reference's core premise:
    ingest adapts to drift instead of crashing). Two event batches with
    drifted schemas — v2 widens user_id int→bigint, drops event_type,
    adds value and props — union through
    ``operators.schema_evolution.evolve_union``: diff → widen along the
    numeric lattice → null-fill → unionByName (order-drift-proof). The
    oracle hand-writes the aligned UNION ALL, so the operator's widening
    and null-filling are value-verified, not just schema-checked. All
    alignment is narrow projections — no shuffle beyond the final
    aggregate."""
    from self_healing_data_pipeline_spark.operators.schema_evolution import (
        evolve_union,
    )

    ev = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-04-01").cast("timestamp_ntz")
    v1 = ev.filter(F.col("ts") < cut).select(
        "event_id", F.col("user_id").cast("int").alias("user_id"), "event_type"
    )
    v2 = ev.filter(F.col("ts") >= cut).select(
        "event_id", "user_id", "value", "props"
    )
    unioned, events = evolve_union(v1, v2)
    kinds = {e.column: e.kind for e in events}
    # The drift report is part of the contract: wrong classification =
    # wrong pipeline behavior, so fail loudly here rather than union
    # misaligned data.
    assert kinds == {
        "user_id": "widened",
        "event_type": "removed",
        "value": "added",
        "props": "added",
    }, kinds
    return unioned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("event_type").alias("n_event_type"),
        F.count("value").alias("n_value"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_join_asof_fwd",
    oracle="""
    SELECT c.event_id,
           CAST(STRFTIME((SELECT MIN(p.ts) FROM events p
                           WHERE p.event_type = 'purchase'
                             AND p.user_id = c.user_id
                             AND p.ts >= c.ts
                             AND p.ts <= c.ts + INTERVAL 60 MINUTE),
                         '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS next_purchase,
           CAST(FLOOR((EPOCH_US((SELECT MIN(p.ts) FROM events p
                                  WHERE p.event_type = 'purchase'
                                    AND p.user_id = c.user_id
                                    AND p.ts >= c.ts
                                    AND p.ts <= c.ts + INTERVAL 60 MINUTE))
                       - EPOCH_US(c.ts)) / 60000000) AS BIGINT) AS mins_to
    FROM events c WHERE c.event_type = 'click'
    """,
)
def q_join_asof_fwd(spark, sf_dir):
    """FORWARD as-of join with tolerance: each click matched to the
    user's FIRST purchase at or after it, but only within 60 minutes —
    the conversion-attribution twin of the backward ``q_join_asof``,
    completing the as-of family (backward, forward, bounded).

    Same union+window composition (never a per-row subquery — the
    correlated form is the oracle): clicks and purchases union, ONE
    shuffle on user_id, a descending scan carries the nearest future
    purchase timestamp via LOCF (purchases sort before clicks at equal
    ts so "at or after" includes exact ties), and the tolerance applies
    as a final filter on the exact µs gap."""
    ev = read_table(spark, sf_dir, "events")
    both = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nxt = both.withColumn(
        "next_p", F.last("p_ts", ignorenulls=True).over(w)
    ).where(F.col("is_click") == 1)
    gap_us = F.unix_micros(F.col("next_p").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    within = F.col("next_p").isNotNull() & (gap_us <= 60 * 60 * 1000 * 1000)
    return nxt.select(
        "event_id",
        F.when(within, ts_str("next_p")).alias("next_purchase"),
        F.when(within, F.floor(gap_us / F.lit(60_000_000)).cast("bigint")).alias(
            "mins_to"
        ),
    )


# SURVEY.md §2.3/§2.11: the FEATURE-STORE surface —
# point-in-time-correct feature retrieval against SCD2 version ranges
# (the training-set assembly step whose absence causes label leakage),
# and broadcast-stats feature standardization.
#
# Scale discipline: the PIT join is an equi-join on the entity key with
# the validity-range predicate as a residual (never a cross product);
# standardization is one moment-sum pass broadcast back over the rows,
# with every IEEE op in oracle-identical operand order (IEEE-754 sqrt is
# correctly rounded, so even the sigma path is bit-exact).


@query(
    "q_join_pit",
    oracle="""
    WITH v AS (
      SELECT o_custkey,
             o_orderkey AS version_key,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS feature_cents,
             o_orderdate AS eff_from,
             LEAD(o_orderdate) OVER
               (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) AS eff_to
      FROM orders
    )
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
           STRFTIME(l.l_shipdate, '%Y-%m-%d') AS ship_date,
           v.version_key, v.feature_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN v ON v.o_custkey = o.o_custkey
          AND l.l_shipdate >= v.eff_from
          AND (v.eff_to IS NULL OR l.l_shipdate < v.eff_to)
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
)
def q_join_pit(spark, sf_dir):
    """POINT-IN-TIME join (feature-store training-set assembly): each
    line item retrieves the customer feature version that was in effect
    ON ITS SHIP DATE — the q_scd2_versions validity ranges queried the
    way a feature store must query them, because joining "current"
    feature values onto historical facts leaks the future into
    training data. Versions derive from the customer's own order
    history (feature = the version-defining order's exact cents), facts
    are the customer's shipped lines; this generator ships many lines
    BEFORE their order date, so ~9% of facts predate the customer's
    first version — those keep NULL features via the LEFT join, which
    is the point-in-time-CORRECT answer (no feature existed yet; an
    inner join would silently drop training facts, a NULL row is an
    explicit "feature unavailable" the training pipeline can impute).

    Plan: facts reach their customer key via a broadcast-eligible
    equi-join, then ONE LEFT equi-join on o_custkey carries the
    validity predicate as a residual — range selection inside the
    matched key group, never a cross product. At most one version
    matches (ranges partition the timeline from the first version on),
    so output cardinality = fact cardinality exactly."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    v = o.select(
        F.col("o_custkey").alias("v_custkey"),
        F.col("o_orderkey").alias("version_key"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("feature_cents"),
        F.col("o_orderdate").alias("eff_from"),
        F.lead("o_orderdate").over(w).alias("eff_to"),
    )
    facts = li.select("l_orderkey", "l_linenumber", "l_shipdate").join(
        o.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        facts.join(
            v,
            (v.v_custkey == facts.o_custkey)
            & (facts.l_shipdate >= v.eff_from)
            & (v.eff_to.isNull() | (facts.l_shipdate < v.eff_to)),
            "left",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
            "version_key",
            "feature_cents",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# SURVEY.md §2.1: custom-connector queries — the Python DataSource API
# source end to end (batch read with pushdown, oracle-checked payloads)
# and the binary-file multimodal ingest scan.
#
# Reference parity: the API-ingestion vision
# (`automated-data-catalog-&-etl/README.md:2`); the connector itself is
# `sources/api_source.py`.


@query(
    "q_scan_api_source",
    oracle="""
    SELECT i AS id,
           CAST(i // 50 AS INT) AS page,
           CASE CAST(i % 3 AS INT) WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                ELSE 'purchase' END AS event_type,
           CAST((i * 37) % 10000 AS BIGINT) AS amount_cents,
           MD5(CAST(i AS VARCHAR)) AS token
    FROM generate_series(0, 999) t(i)
    ORDER BY id
    """,
)
def q_scan_api_source(spark, sf_dir):
    """Custom CONNECTOR read (PySpark 4 Python DataSource API): 20
    pages × 50 records from the registered ``synth_api`` source — one
    InputPartition per page (executors fetch pages in parallel, the
    real-API parallelism unit), page-range filter pushdown available
    (`sources/api_source.py::prune_page_range`), and the ENTIRE
    payload oracle-checked cell by cell against DuckDB
    ``generate_series`` — connector correctness, not just plumbing.
    The fixture volume is a connector option, not sf-dependent (the
    'external service' doesn't scale with the warehouse)."""
    register_api_source(spark)
    return (
        spark.read.format("synth_api")
        .option("pages", "20")
        .option("page_size", "50")
        .load()
        .orderBy("id")
    )


@query(
    "q_scan_binaryfile",
    oracle="""
    WITH f AS (
      SELECT i,
             CAST(16 + (i % 3) * 4 AS INT) AS h,
             CAST(20 + (i % 5) * 4 AS INT) AS w,
             CASE WHEN i % 2 = 0 THEN 'png' ELSE 'bmp' END AS ext
      FROM generate_series(0, 23) t(i)
    ), px AS (
      SELECT f.i,
             AVG(CAST((yy * 7 + xx * 13 + f.i) % 256 AS DOUBLE))
               AS pixel_mean
      FROM f, generate_series(0, 23) ty(yy), generate_series(0, 35) tx(xx)
      WHERE yy < f.h AND xx < f.w
      GROUP BY f.i
    )
    SELECT printf('img_%03d_%dx%d.%s', f.i, f.w, f.h, f.ext) AS name,
           f.w AS width, f.h AS height, px.pixel_mean,
           TRUE AS dims_ok
    FROM f JOIN px ON f.i = px.i
    ORDER BY name
    """,
)
def q_scan_binaryfile(spark, sf_dir):
    """MULTIMODAL INGEST scan: Spark's ``binaryFile`` source reading a
    directory of real image files into (path, length, content) rows,
    then header-parsing + REAL pixel-decoding each payload through the
    repo's codecs — the front door a 100 TB image corpus actually
    arrives through (object-store listings of media files, not
    parquet).

    The fixture synthesizes a small scratch directory of PNG + BMP
    files (deterministic doc-seeded pixels, encoder twins from
    `operators/codecs.py`) because the testdata carries no media; the
    SCAN path — binaryFile source, Arrow-batched mapInPandas decode,
    per-file witness columns — is the real one.

    PROMOTED to oracle-backed (round-10): the fixture pixels follow a
    closed-form law (``(yy*7 + xx*13 + i) % 256``), so DuckDB derives
    every output column INDEPENDENTLY of the byte path — names and
    dims from the synthesis parameters, ``pixel_mean`` by averaging
    the law over the pixel grid (integer-exact float64 both sides).
    The Spark side still travels the full production route (encode →
    real files on disk → binaryFile scan → zlib/LZW inflate → pixel
    decode), so a hash match certifies the decode end-to-end; a wrong
    pixel anywhere shifts the mean. The encoded byte length (the one
    column not derivable without running the codec) moved to the
    rows-only era's witness tests.

    Scale shape: binaryFile parallelizes by file; decode is narrow
    per-row work in bounded Arrow batches; nothing shuffles until the
    final (tiny) projection. ``pathGlobFilter``/``recursiveFileLookup``
    are the production knobs for object-store layouts."""
    import os

    import numpy as np
    import pandas as pd

    from self_healing_data_pipeline_spark.operators.codecs import (
        bmp_bytes_with_pixels,
    )
    from self_healing_data_pipeline_spark.operators.multimodal import (
        decode_pixels,
        png_bytes_with_pixels,
    )
    from self_healing_data_pipeline_spark.session import scratch_dir

    d = scratch_dir("binfiles", sf_dir)
    os.makedirs(d, exist_ok=True)
    for i in range(24):
        h, w = 16 + (i % 3) * 4, 20 + (i % 5) * 4
        yy, xx = np.mgrid[0:h, 0:w]
        px = ((yy * 7 + xx * 13 + i) % 256).astype(np.uint8)
        if i % 2 == 0:
            blob, ext = png_bytes_with_pixels(px[:, :, None]), "png"
        else:
            blob, ext = bmp_bytes_with_pixels(np.stack([px] * 3, -1)), "bmp"
        with open(os.path.join(d, f"img_{i:03d}_{w}x{h}.{ext}"), "wb") as f:
            f.write(blob)

    files = spark.read.format("binaryFile").load(d)
    schema = "name string, width int, height int, " \
             "pixel_mean double, dims_ok boolean"

    def decode_batches(it):
        for pdf in it:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                name = os.path.basename(path)
                arr = decode_pixels(bytes(content))
                hh, ww = arr.shape[0], arr.shape[1]
                exp_w, exp_h = name.rsplit(".", 1)[0].split("_")[-1].split("x")
                out.append(
                    (
                        name,
                        ww,
                        hh,
                        float(np.mean(arr, dtype="float64")),
                        (ww == int(exp_w)) and (hh == int(exp_h)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["name", "width", "height", "pixel_mean", "dims_ok"],
            )

    return (
        files.select("path", "content")
        .mapInPandas(decode_batches, schema)
        .orderBy("name")
    )


# SURVEY.md §2.3/§2.4/§2.11: RUNTIME JOIN PRUNING with a Bloom-style
# position filter (the runtime-filter / DPP pattern for big fact⋈dim
# joins), exact WEIGHTED MEDIAN selection, and item-item COLLABORATIVE
# FILTERING neighbors (the co-purchase recommender beside
# q_basket_rules' directed rules).
#
# Reference scope: the catalog/ETL app delegates arbitrary analytics to
# its embedded SQL engine (`APP/services/pgliteService.ts:36-49`); these
# are the warehouse-grade forms a 100 TB Spark deployment needs.


# Bloom grid: positions per hash seed. At 100 TB the dim side may hold
# millions of keys; the filter stays <= 2*BLOOM_M rows regardless (the
# point of a Bloom filter vs broadcasting the raw key set), and the
# false-positive rate (1 - e^{-n/m})^2 is tuned by raising BLOOM_M.
BLOOM_M = 4096
_BLOOM_SEEDS = (0x5EED1, 0x5EED2)


@query(
    "q_bloom_join",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_regionkey = 0
    GROUP BY 1 ORDER BY 1
    """,
)
def q_bloom_join(spark, sf_dir):
    """RUNTIME BLOOM-FILTER JOIN PRUNING: revenue by supplier nation
    for one region, with the fact scan pre-filtered by a Bloom-style
    position filter built from the (filtered) dim side — the
    runtime-filter pattern (Spark's own runtime bloom / dynamic
    partition pruning) made explicit as a composable DataFrame plan.

    How: the qualifying suppliers hash to ``pmod(xxhash64(key, seed),
    m)`` under two seeds; each seed's DISTINCT position set (<= m rows
    by construction, however many dim keys exist) broadcasts into a
    LEFT SEMI join against the fact's computed positions. A fact row
    survives only if BOTH probes hit — exactly a k=2 Bloom test, with
    the bitmap realized as two broadcast hash sets so the probe stays
    in whole-stage codegen. False positives then fall out of the exact
    broadcast dim join, so the result is EXACTLY the plain join (the
    oracle) — the filter is a pure pruning layer.

    Scale shape: the only full-fact stages are the two broadcast semi
    probes (narrow, no shuffle) and the final broadcast join +
    partial-aggregated rollup; the fact is never shuffled. With a
    1/5-of-nations region the probes drop ~80% of fact rows before
    any join work — at 100 TB that is the difference between scanning
    and shuffling."""
    nat = read_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    sup = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    dim = sup.select("s_suppkey", "n_name")

    li = read_table(spark, sf_dir, "lineitem")
    pruned = li
    for seed in _BLOOM_SEEDS:
        pos = F.pmod(F.xxhash64(F.col("s_suppkey"), F.lit(seed)), F.lit(BLOOM_M))
        probe = F.pmod(F.xxhash64(F.col("l_suppkey"), F.lit(seed)), F.lit(BLOOM_M))
        positions = dim.select(pos.alias("__pos")).distinct()
        pruned = pruned.join(
            F.broadcast(positions),
            probe == F.col("__pos"),
            "left_semi",
        )
    return (
        pruned.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("nation")
    )


# SURVEY.md §2.1 sources / §2.4: an ENGINE-SIDE SYNTHETIC DATA GENERATOR
# (spark.range + integer-hash derived columns — the dbgen-style source
# for load tests and CI fixtures, no driver-side row building) and
# SQL-standard INTERPOLATED percentiles (PERCENTILE_CONT beside
# q_percentile_bands' exact discrete ranks).
#
# Reference scope: the catalog app demos on pasted sample data
# (`APP/App.tsx` sample flows); a warehouse needs reproducible synthetic
# volume generated IN the engine.


_GEN_N = 100000
# Knuth multiplicative-hash constants: pure integer arithmetic both
# engines evaluate identically (no md5 parsing, no RNG state).
_H1, _M1 = 2654435761, 1000003
_H2, _M2 = 48271, 99991


@query(
    "q_generate_synthetic",
    oracle=f"""
    WITH g AS (
      SELECT UNNEST(GENERATE_SERIES(0, {_GEN_N - 1})) AS id
    ), rows_ AS (
      SELECT id,
             (id * {_H1} + 40503) % {_M1} % 7 AS cat_id,
             (id * {_H2} + 11) % {_M2} AS value_cents
      FROM g
    )
    SELECT CAST(cat_id AS BIGINT) AS cat_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
           CAST(MIN(value_cents) AS BIGINT) AS min_cents,
           CAST(MAX(value_cents) AS BIGINT) AS max_cents
    FROM rows_ GROUP BY 1 ORDER BY 1
    """,
)
def q_generate_synthetic(spark, sf_dir):
    """ENGINE-SIDE SYNTHETIC DATA GENERATION: 100k rows materialize
    from ``spark.range`` with columns derived by Knuth multiplicative
    hashing (category, value) — the dbgen pattern for load tests,
    demo fixtures, and benchmark corpora, generated IN PARALLEL on
    executors (range splits across partitions; no driver-side row
    list, no RNG whose state would break partition-order
    independence). The rollup validates the generator's distribution
    cell-by-cell against the oracle's GENERATE_SERIES twin.

    Scale shape: range is an embarrassingly parallel source (each
    partition derives its ids arithmetically); derived columns are
    narrow integer ops in whole-stage codegen; one bounded 7-row
    rollup. Generating 10^12 rows for a cluster load test is the same
    plan with a bigger N."""
    g = spark.range(0, _GEN_N)
    cat = F.pmod(F.pmod(F.col("id") * _H1 + 40503, F.lit(_M1)), F.lit(7))
    val = F.pmod(F.col("id") * _H2 + 11, F.lit(_M2))
    return (
        g.select(cat.alias("cat_id"), val.alias("value_cents"))
        .groupBy(F.col("cat_id").cast("bigint").alias("cat_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("value_cents").cast("bigint").alias("sum_cents"),
            F.min("value_cents").cast("bigint").alias("min_cents"),
            F.max("value_cents").cast("bigint").alias("max_cents"),
        )
        .orderBy("cat_id")
    )


# SURVEY.md §2.3/§2.11: NEAREST as-of join (the bidirectional completion
# of the as-of family — backward q_join_asof, forward q_join_asof_fwd,
# now nearest-in-time with deterministic tie-break) and crawl-drift
# TRENDING TERMS (which vocabulary is overrepresented in the newest
# corpus slice vs history — the distribution-shift monitor for an
# always-growing training corpus).


_TOL_US = 60 * 60000000  # 60-minute tolerance, exact integer µs


@query(
    "q_join_asof_nearest",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id, EPOCH_US(ts) AS us FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, EPOCH_US(ts) AS us FROM events
      WHERE event_type = 'purchase'
    ), b AS (
      SELECT c.user_id, c.event_id, c.us,
             (SELECT MAX(p.us) FROM p
              WHERE p.user_id = c.user_id AND p.us <= c.us
                AND c.us - p.us <= {_TOL_US}) AS back_us,
             (SELECT MIN(p.us) FROM p
              WHERE p.user_id = c.user_id AND p.us >= c.us
                AND p.us - c.us <= {_TOL_US}) AS fwd_us
      FROM c
    )
    SELECT user_id, event_id,
           CASE WHEN back_us IS NULL AND fwd_us IS NULL THEN NULL
                WHEN fwd_us IS NULL THEN 'backward'
                WHEN back_us IS NULL THEN 'forward'
                WHEN us - back_us <= fwd_us - us THEN 'backward'
                ELSE 'forward' END AS direction,
           CASE WHEN back_us IS NULL AND fwd_us IS NULL THEN NULL
                WHEN fwd_us IS NULL THEN us - back_us
                WHEN back_us IS NULL THEN fwd_us - us
                WHEN us - back_us <= fwd_us - us THEN us - back_us
                ELSE fwd_us - us END AS gap_us
    FROM b ORDER BY user_id, event_id
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """NEAREST as-of join: each click matches its closest purchase in
    EITHER direction within a 60-minute tolerance (tie → the earlier,
    backward match) — completing the as-of family. The
    sensor-alignment/nearest-event primitive (pandas merge_asof
    direction='nearest') at warehouse scale.

    Spark-first as the composition of the two existing passes over ONE
    unioned, ONE-shuffle stream: a backward LOCF window (last purchase
    at-or-before) and a forward LOCF window (first purchase at-or-
    after, descending frame), then an exact integer-µs comparison
    picks the nearer side. No self-join on time, no per-click lookback
    scan; windows partition by user. The oracle states the same result
    as correlated MAX/MIN subqueries.

    Determinism: exact integer µs everywhere; ties break backward by
    the <= comparison; output ordered by (user, event)."""
    e = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("us"),
        F.when(F.col("event_type") == "purchase", us).alias("p_us"),
    )
    # Backward pass: purchases sort BEFORE clicks at equal ts so a
    # simultaneous purchase is visible (<=); forward pass mirrors.
    back_w = (
        Window.partitionBy("user_id")
        .orderBy("us", F.col("event_type").desc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd_w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("us").desc(), F.col("event_type").desc(), F.col("event_id").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # event_type desc puts 'purchase' before 'click' at equal us in
    # BOTH frame orders ('p' > 'c'), so a simultaneous purchase is
    # already carried when the click row is evaluated — the inclusive
    # <= / >= semantics of the oracle's correlated MAX/MIN.
    withm = ev.withColumn(
        "back_us", F.last("p_us", ignorenulls=True).over(back_w)
    ).withColumn("fwd_us", F.last("p_us", ignorenulls=True).over(fwd_w))
    c = withm.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        "us",
        F.when(
            F.col("us") - F.col("back_us") <= F.lit(_TOL_US), F.col("back_us")
        ).alias("back_us"),
        F.when(
            F.col("fwd_us") - F.col("us") <= F.lit(_TOL_US), F.col("fwd_us")
        ).alias("fwd_us"),
    )
    back_gap = F.col("us") - F.col("back_us")
    fwd_gap = F.col("fwd_us") - F.col("us")
    direction = (
        F.when(F.col("back_us").isNull() & F.col("fwd_us").isNull(), F.lit(None).cast("string"))
        .when(F.col("fwd_us").isNull(), F.lit("backward"))
        .when(F.col("back_us").isNull(), F.lit("forward"))
        .when(back_gap <= fwd_gap, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    gap = (
        F.when(F.col("back_us").isNull() & F.col("fwd_us").isNull(), F.lit(None).cast("bigint"))
        .when(F.col("fwd_us").isNull(), back_gap)
        .when(F.col("back_us").isNull(), fwd_gap)
        .when(back_gap <= fwd_gap, back_gap)
        .otherwise(fwd_gap)
    )
    return c.select(
        "user_id",
        "event_id",
        direction.alias("direction"),
        gap.cast("bigint").alias("gap_us"),
    ).orderBy("user_id", "event_id")


# SURVEY.md §2.1 ingest hardening / §2.2 SQL semantics: CSV DIALECT
# round-trip fidelity (RFC 4180 — embedded commas, doubled quotes, and
# NEWLINES inside quoted fields survive a write→read cycle bit-exactly)
# and a NULL-SEMANTICS parity suite (the three-valued-logic edge cases —
# NOT over NULL predicates, NOT IN with a NULL, null-safe equality —
# counted identically on both engines).
#
# These pin the sharp edges users actually cut themselves on when
# migrating engines; the reference's EP1 ingests real-world CSV
# (`APP/services/geminiService.ts` schema analysis), where dialect bugs
# silently corrupt rows.


@query(
    "q_csv_dialect",
    oracle="""
    SELECT n_nationkey AS id,
           n_name || ', "' || n_name || '"' || CHR(10) || 'line2' AS note,
           CAST(LENGTH(n_name || ', "' || n_name || '"' || CHR(10)
                       || 'line2') AS BIGINT) AS note_len
    FROM nation ORDER BY id
    """,
)
def q_csv_dialect(spark, sf_dir):
    """CSV DIALECT round trip (RFC 4180): a derived text field with an
    embedded comma, a quoted substring, AND a literal newline writes to
    CSV (quote-doubling escape style, not backslash) and reads back via
    the multiLine parser — the oracle recomputes the same strings from
    the parquet directly, so equality proves the writer/parser pair
    loses NOTHING on the dialect's hardest cases (a backslash-escape
    default or single-line reader silently splits these rows; that is
    the classic cross-tool CSV corruption).

    Scale shape: narrow map → file write → parallel multiLine scan
    (multiLine CSV is NOT splittable within a file — the documented
    trade; at 100 TB keep such fields in parquet/JSONL or shard the
    CSV into many files, which this write does by partition)."""
    out = scratch_dir("dialect_csv", sf_dir)
    n = read_table(spark, sf_dir, "nation")
    note = F.concat(
        F.col("n_name"),
        F.lit(', "'),
        F.col("n_name"),
        F.lit('"\nline2'),
    )
    n.select(
        F.col("n_nationkey").alias("id"), note.alias("note")
    ).coalesce(1).write.mode("overwrite").option("header", True).option(
        "quote", '"'
    ).option(
        "escape", '"'
    ).csv(out)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("inferSchema", True)
        .csv(out)
    )
    return back.select(
        F.col("id").cast("bigint").alias("id"),
        "note",
        F.length("note").cast("bigint").alias("note_len"),
    ).orderBy("id")


# SURVEY.md §2.3 temporal / §2.11 ML prep: BITEMPORAL reconstruction —
# "what did we BELIEVE at transaction time T about the state VALID at
# time V?" over the order version log (the two-clock query SCD2 (valid
# time) and time travel (transaction time) each answer only half of) —
# and a CLASS-WEIGHT report over the embedding labels (the
# inverse-frequency weights an imbalanced training run feeds its loss).


# The 2×2 bitemporal probe grid: transaction-time cuts (what had been
# ingested) × valid-time points (what was in effect).
_TX_CUTS = ("1996-01-01", "1999-01-01")
_VALID_ATS = ("1995-06-01", "1997-06-01")


@query(
    "q_bitemporal",
    oracle=f"""
    WITH grid AS (
      SELECT * FROM (VALUES
        (DATE '{_TX_CUTS[0]}', DATE '{_VALID_ATS[0]}'),
        (DATE '{_TX_CUTS[0]}', DATE '{_VALID_ATS[1]}'),
        (DATE '{_TX_CUTS[1]}', DATE '{_VALID_ATS[0]}'),
        (DATE '{_TX_CUTS[1]}', DATE '{_VALID_ATS[1]}')
      ) AS t(tx_cut, valid_at)
    ), vers AS (
      SELECT o_custkey AS ck, o_orderkey AS seq,
             CAST(o_orderdate AS DATE) AS vfrom,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), known AS (
      SELECT g.tx_cut, g.valid_at, v.ck, v.seq, v.cents,
             ROW_NUMBER() OVER (PARTITION BY g.tx_cut, g.valid_at, v.ck
                                ORDER BY v.vfrom DESC, v.seq DESC) AS rn
      FROM grid g JOIN vers v
        ON v.vfrom < g.tx_cut AND v.vfrom <= g.valid_at
    )
    SELECT STRFTIME(tx_cut, '%Y-%m-%d') AS tx_cut,
           STRFTIME(valid_at, '%Y-%m-%d') AS valid_at,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM known WHERE rn = 1
    GROUP BY tx_cut, valid_at ORDER BY tx_cut, valid_at
    """,
)
def q_bitemporal(spark, sf_dir):
    """BITEMPORAL reconstruction over the order version log: for each
    (transaction-time cut, valid-time point) in a 2×2 probe grid,
    rebuild the per-customer version that was BOTH already ingested
    (vfrom < tx_cut — arrival follows order date here, the
    q_time_travel epoch convention) AND in effect at the valid
    instant (latest vfrom ≤ valid_at), then roll up customers and
    exact cents. This is the audit question neither clock answers
    alone — SCD2 gives validity, time travel gives belief; corrections
    arriving late make the same valid_at answer DIFFER across tx_cuts,
    which is exactly what the report shows.

    Scale shape: the 4-row probe grid broadcasts into the version
    scan; per-(probe, customer) latest-version selection is a rank
    window partitioned by (probe, customer); bounded 4-row output.
    All exact integers/dates."""
    o = read_table(spark, sf_dir, "orders")
    grid = F.broadcast(
        spark.createDataFrame(
            [(t, v) for t in _TX_CUTS for v in _VALID_ATS],
            "tx_cut string, valid_at string",
        ).select(
            F.col("tx_cut").cast("date").alias("tx_cut"),
            F.col("valid_at").cast("date").alias("valid_at"),
        )
    )
    vers = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderdate").cast("date").alias("vfrom"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    known = vers.join(
        grid,
        (F.col("vfrom") < F.col("tx_cut"))
        & (F.col("vfrom") <= F.col("valid_at")),
    )
    rn = F.row_number().over(
        Window.partitionBy("tx_cut", "valid_at", "ck").orderBy(
            F.col("vfrom").desc(), F.col("seq").desc()
        )
    )
    return (
        known.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy(
            F.date_format("tx_cut", "yyyy-MM-dd").alias("tx_cut"),
            F.date_format("valid_at", "yyyy-MM-dd").alias("valid_at"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("tx_cut", "valid_at")
    )


# SURVEY.md §2.3 range joins / §2.9: FIFO ALLOCATION — the
# first-in-first-out matching of issues to receipts (inventory costing,
# lot tracking, payment application) that looks inherently sequential,
# expressed in CLOSED FORM as an INTERVAL ALIGNMENT: on each supplier's
# cumulative-quantity axis, receipt r occupies [Rprev, Rcum) and issue i
# occupies [Iprev, Icum), and FIFO matches exactly their overlap —
# qty(r,i) = min(Rcum, Icum) − max(Rprev, Iprev) where positive. The
# q_inventory_floor trick (kill the sequential fold with an identity)
# applied to MATCHING.


# Cumulative-axis band width for the candidate join: intervals are
# line quantities (1..50), so each spans 1-2 bands and band population
# stays O(B/avg_qty) — candidates scale linearly with lines, never
# |receipts|×|issues| per supplier.
_BAND = 256


@query(
    "q_fifo_allocation",
    oracle="""
    WITH mv AS (
      SELECT l_suppkey AS sk,
             l_returnflag = 'R' AS is_recv,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty,
             l_shipdate AS o1, l_orderkey AS o2, l_linenumber AS o3
      FROM lineitem
    ), recv AS (
      SELECT sk, qty,
             SUM(qty) OVER w AS rcum,
             SUM(qty) OVER w - qty AS rprev
      FROM mv WHERE is_recv
      WINDOW w AS (PARTITION BY sk ORDER BY o1, o2, o3, qty
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), issu AS (
      SELECT sk, qty,
             SUM(qty) OVER w AS icum,
             SUM(qty) OVER w - qty AS iprev
      FROM mv WHERE NOT is_recv
      WINDOW w AS (PARTITION BY sk ORDER BY o1, o2, o3, qty
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), alloc AS (
      SELECT r.sk,
             LEAST(r.rcum, i.icum) - GREATEST(r.rprev, i.iprev) AS m
      FROM recv r JOIN issu i
        ON r.sk = i.sk AND r.rprev < i.icum AND i.iprev < r.rcum
    )
    SELECT a.sk AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_allocations,
           CAST(SUM(a.m) AS BIGINT) AS matched_qty,
           CAST(MAX(t.recv_q) AS BIGINT) AS received_qty,
           CAST(MAX(t.iss_q) AS BIGINT) AS issued_qty
    FROM alloc a
    JOIN (
      SELECT sk,
             SUM(CASE WHEN is_recv THEN qty ELSE 0 END) AS recv_q,
             SUM(CASE WHEN is_recv THEN 0 ELSE qty END) AS iss_q
      FROM mv GROUP BY sk
    ) t ON a.sk = t.sk
    GROUP BY a.sk ORDER BY suppkey
    """,
)
def q_fifo_allocation(spark, sf_dir):
    """FIFO ALLOCATION per supplier: receipts (returned lines) match
    issues (everything else) first-in-first-out by ship order, and the
    report counts allocations, matched quantity (provably
    min(received, issued) — the FIFO conservation law the oracle
    re-derives), and both side totals.

    The sequential "consume earliest remaining receipt" loop becomes a
    RANGE JOIN via the cumulative-axis identity: FIFO matches receipt
    and issue iff their [prev, cum) intervals overlap, with matched
    qty = interval overlap — exact integers end to end.

    The arrival order appends qty as the final window key (round-12
    queued tie-order batch): the fixture's (l_orderkey, l_linenumber)
    is not unique, and two same-side rows tying on every ordering key
    INCLUDING qty occupy interchangeable cumulative intervals, so the
    allocation report is layout-independent on both engines.

    Scale shape: cumulative sums are per-supplier windows
    (q_inventory_floor's pass); the candidate join BANDS the
    cumulative axis (each interval explodes to its ≤1+qty/256 bands;
    join keys (sk, band); exact overlap filter after) so candidate
    volume stays linear in lines instead of |R|×|I| per supplier —
    the same banding discipline as q_join_range/LSH. The oracle keeps
    the plain range-join formulation."""
    li = read_table(spark, sf_dir, "lineitem")
    mv = li.select(
        F.col("l_suppkey").alias("sk"),
        (F.col("l_returnflag") == "R").alias("is_recv"),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        F.col("l_shipdate").alias("o1"),
        F.col("l_orderkey").alias("o2"),
        F.col("l_linenumber").alias("o3"),
    )
    w = Window.partitionBy("sk").orderBy("o1", "o2", "o3", "qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    def cums(df, cum, prev):
        return df.select(
            "sk",
            "qty",
            F.sum("qty").over(w).alias(cum),
            (F.sum("qty").over(w) - F.col("qty")).alias(prev),
        )

    recv = cums(mv.filter(F.col("is_recv")), "rcum", "rprev")
    issu = cums(mv.filter(~F.col("is_recv")), "icum", "iprev")

    def banded(df, lo, hi):
        return df.withColumn(
            "band",
            F.explode(
                F.sequence(
                    F.shiftright(F.col(lo), 8), F.shiftright(F.col(hi) - 1, 8)
                )
            ),
        )

    rb = banded(recv, "rprev", "rcum")
    ib = banded(issu, "iprev", "icum").select(
        F.col("sk").alias("sk2"), "band", "icum", "iprev"
    )
    cand = (
        rb.join(ib, (F.col("sk") == F.col("sk2")) & (rb["band"] == ib["band"]))
        .filter(
            (F.col("rprev") < F.col("icum")) & (F.col("iprev") < F.col("rcum"))
        )
        .select("sk", "rprev", "rcum", "iprev", "icum")
        .distinct()
    )
    alloc = cand.select(
        "sk",
        (
            F.least(F.col("rcum"), F.col("icum"))
            - F.greatest(F.col("rprev"), F.col("iprev"))
        ).alias("m"),
    )
    totals = mv.groupBy("sk").agg(
        F.sum(F.when(F.col("is_recv"), F.col("qty")).otherwise(0)).alias(
            "recv_q"
        ),
        F.sum(F.when(F.col("is_recv"), 0).otherwise(F.col("qty"))).alias(
            "iss_q"
        ),
    )
    return (
        alloc.groupBy(F.col("sk").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_allocations"),
            F.sum("m").cast("bigint").alias("matched_qty"),
        )
        .join(
            totals.select(
                F.col("sk").alias("suppkey"),
                F.col("recv_q").cast("bigint").alias("received_qty"),
                F.col("iss_q").cast("bigint").alias("issued_qty"),
            ),
            "suppkey",
        )
        .orderBy("suppkey")
    )


_CANDIDATES = (
    ("o_custkey", "CAST(o_custkey % 256 AS BIGINT)"),
    ("order_month", "CAST(STRFTIME(o_orderdate, '%Y%m') AS BIGINT)"),
    ("o_orderpriority", "CAST(ASCII(o_orderpriority) AS BIGINT)"),
)


@query(
    "q_partition_advisor",
    oracle=f"""
    WITH {", ".join(
        f'''b_{name} AS (
      SELECT {expr} AS bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), s_{name} AS (
      SELECT '{name}' AS candidate_key,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_bucket,
             CAST(MAX(n) * COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
               AS skew_ratio
      FROM b_{name}
    )''' for name, expr in _CANDIDATES
    )}
    SELECT * FROM s_o_custkey
    UNION ALL SELECT * FROM s_order_month
    UNION ALL SELECT * FROM s_o_orderpriority
    ORDER BY candidate_key
    """,
)
def q_partition_advisor(spark, sf_dir):
    """PARTITION-KEY ADVISOR: for each candidate partitioning scheme
    of the orders fact (hash(custkey)%256, order month, priority),
    report bucket count, the largest bucket, and the skew ratio
    max·buckets/rows (1.0 = perfectly balanced; ≫1 = a straggler task
    at shuffle time). This is the one-pass report that decides which
    key a 100 TB table should bucket/repartition on — the advisor
    form of q_skew_report, comparing schemes side by side.

    Scale shape: one partial-aggregated bucket-grain count per
    candidate (3 parallel aggregates over the same scan), each
    collapsed to a 1-row summary — candidates widen the union, never
    the data path. Skew ratio is exact ints and one mirrored IEEE
    division."""
    o = read_table(spark, sf_dir, "orders")
    variants = {
        "o_custkey": F.pmod(F.col("o_custkey"), F.lit(256)).cast("bigint"),
        "order_month": F.date_format("o_orderdate", "yyyyMM").cast("bigint"),
        "o_orderpriority": F.ascii(F.col("o_orderpriority")).cast("bigint"),
    }
    outs = []
    for name, expr in variants.items():
        b = o.groupBy(expr.alias("bucket")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        outs.append(
            b.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                F.sum("n").cast("bigint").alias("n_rows"),
                F.max("n").cast("bigint").alias("max_bucket"),
                (
                    (F.max("n") * F.count(F.lit(1))).cast("double")
                    / F.sum("n").cast("double")
                ).alias("skew_ratio"),
            ).select(
                F.lit(name).alias("candidate_key"),
                "n_buckets",
                "n_rows",
                "max_bucket",
                "skew_ratio",
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out.orderBy("candidate_key")


# SURVEY.md §2.3 joins / §2.11 corpus sampling: JOIN FAN-OUT AUDIT (the
# per-key multiplicity histogram that predicts a join's row blow-up
# BEFORE running it — the check that catches the accidental
# many-to-many) and the HASH-SAMPLE BIAS AUDIT (per-category binomial z²
# of the md5-prefix sample against its expected rate — the statistical
# proof that deterministic hash sampling is category-fair, guarding
# every downstream q_sample_hash consumer).
#
# Exactness: multiplicities and category counts are exact BIGINTs; the
# audit's expected/z² columns are fixed-order IEEE chains over two exact
# integers per row (no cross-row float sums).


@query(
    "q_join_fanout_audit",
    oracle="""
    WITH per_key AS (
      SELECT o.o_orderkey,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS m
      FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ), h AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS n_keys FROM per_key GROUP BY 1
    )
    SELECT m AS fanout,
           n_keys,
           CAST(m * n_keys AS BIGINT) AS rows_produced,
           CAST(n_keys AS DOUBLE)
             / CAST(SUM(n_keys) OVER () AS DOUBLE) AS key_share,
           CAST(m * n_keys AS DOUBLE)
             / CAST(SUM(m * n_keys) OVER () AS DOUBLE) AS row_share
    FROM h ORDER BY fanout
    """,
)
def q_join_fanout_audit(spark, sf_dir):
    """JOIN FAN-OUT AUDIT for orders⋈lineitem: the exact distribution
    of per-order-key line multiplicity (0..N), each histogram row
    carrying how many join output rows that multiplicity contributes —
    the pre-flight check that tells you whether a planned join
    multiplies (accidental many-to-many, the classic silent row
    explosion) and what its output cardinality will be, per key
    stratum. m=0 rows are orders with no lines (LEFT join semantics),
    the stratum an inner join silently drops.

    Scale shape: COUNT at the join-key grain via one LEFT-join
    aggregate (co-partitionable on the natural key), then the
    histogram collapse at the multiplicity grain — m is bounded by the
    max lines per order (7 in TPC-H shapes), so the share windows run
    over a handful of rows. No payload ever shuffles; only (key, m)."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_key = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").cast("bigint").alias("m"))
    )
    h = per_key.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )
    from pyspark.sql import Window

    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        h.select(
            F.col("m").alias("fanout"),
            "n_keys",
            (F.col("m") * F.col("n_keys")).cast("bigint").alias(
                "rows_produced"
            ),
            (
                F.col("n_keys").cast("double")
                / F.sum("n_keys").over(wall).cast("double")
            ).alias("key_share"),
            (
                (F.col("m") * F.col("n_keys")).cast("double")
                / F.sum(F.col("m") * F.col("n_keys")).over(wall).cast("double")
            ).alias("row_share"),
        )
        .orderBy("fanout")
    )


# SURVEY.md §2.5 / §2.7 operator-surface completions: the remaining
# distribution window functions (CUME_DIST / PERCENT_RANK, NTILE), the
# multiset set operations (INTERSECT ALL / EXCEPT ALL — §2.7 shipped
# only the DISTINCT forms), positional explode (POSEXPLODE — §2.8
# shipped explode without ordinality), and the null-safe equi-join
# (`<=>` / IS NOT DISTINCT FROM — the §2.3 join family's last comparison
# operator).
#
# Exactness: distribution windows are single IEEE divisions of exact
# integer ranks under a UNIQUE composite order (no peer groups, so
# cross-engine tie semantics can't bite); everything else is integers
# and fixture values.


_SET_A = "SELECT l_suppkey FROM lineitem WHERE l_suppkey % 7 = 0 AND l_quantity <= 10"
_SET_B = "SELECT l_suppkey FROM lineitem WHERE l_suppkey % 7 = 0 AND l_quantity >= 8"


@query(
    "q_set_intersect_all",
    oracle=f"""
    SELECT l_suppkey FROM ({_SET_A})
    INTERSECT ALL
    SELECT l_suppkey FROM ({_SET_B})
    ORDER BY l_suppkey
    """,
)
def q_set_intersect_all(spark, sf_dir):
    """INTERSECT ALL — multiset intersection keeping min(multiplicity)
    copies per value (§2.7 shipped only the DISTINCT form; a migrating
    SQL user's dedup-pair audits rely on the ALL semantics). The two
    sides deliberately overlap (quantity ranges [_,10] and [8,_]) so
    multiplicities differ per supplier.

    Scale shape: Spark plans intersectAll as one aggregate per side on
    the value + a join on (value, count) — shuffles carry the 8-byte
    key only, never rows."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey") % 7 == 0
    )
    a = li.filter(F.col("l_quantity") <= 10).select("l_suppkey")
    b = li.filter(F.col("l_quantity") >= 8).select("l_suppkey")
    return a.intersectAll(b).orderBy("l_suppkey")


@query(
    "q_set_except_all",
    oracle=f"""
    SELECT l_suppkey FROM ({_SET_A})
    EXCEPT ALL
    SELECT l_suppkey FROM (
      SELECT l_suppkey FROM lineitem
      WHERE l_suppkey % 7 = 0 AND l_quantity BETWEEN 8 AND 12
    )
    ORDER BY l_suppkey
    """,
)
def q_set_except_all(spark, sf_dir):
    """EXCEPT ALL — multiset difference keeping max(0, m_a − m_b)
    copies per value; the ALL twin of §2.7's EXCEPT. The right side is
    a NARROWER quantity band than the left (5 quantity values vs 10),
    so per-supplier multiplicities genuinely differ in both directions
    and the difference is non-empty — a right side that dominates
    everywhere would make the key zero-signal."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey") % 7 == 0
    )
    a = li.filter(F.col("l_quantity") <= 10).select("l_suppkey")
    b = li.filter(F.col("l_quantity").between(8, 12)).select("l_suppkey")
    return a.exceptAll(b).orderBy("l_suppkey")


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT NULLIF(o_custkey % 100, 0) AS k,
             CAST(COUNT(*) AS BIGINT) AS a_n
      FROM orders GROUP BY 1
    ), b AS (
      SELECT NULLIF(c_custkey % 100, 0) AS k,
             CAST(COUNT(*) AS BIGINT) AS b_n
      FROM customer GROUP BY 1
    )
    SELECT a.k AS k, a.a_n AS a_n, b.b_n AS b_n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k NULLS FIRST
    """,
)
def q_join_null_safe(spark, sf_dir):
    """NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM) — the §2.3
    join family's last comparison operator: NULL keys MATCH each other
    instead of vanishing, the semantics needed when a bucketing key is
    legitimately absent. Both sides pre-aggregate to key grain first,
    so the NULL group joins 1:1 — the scale-safe form (joining raw
    rows null-safely would cross-product the NULL populations).

    Scale shape: two partial-aggregate passes to ≤101-row frames, then
    a broadcast-sized null-safe join."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    a = o.groupBy(
        F.nullif(F.col("o_custkey") % 100, F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).alias("a_n"))
    b = c.groupBy(
        F.nullif(F.col("c_custkey") % 100, F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).alias("b_n"))
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"].alias("k"), "a_n", "b_n")
        .orderBy(F.asc_nulls_first("k"))
    )


# SURVEY.md §2 surface-parity closers, round-8 verdict task #8: the last
# §2-adjacent SQL features of the reference's delegated Postgres surface
# (`APP/services/pgliteService.ts:36-49` — PGlite executes arbitrary
# SQL, so LATERAL, TABLESAMPLE and QUALIFY-style filtered windows are
# all part of the capability the reference exposes) still unexercised by
# a registered key:
#
# - **q_join_lateral** — correlated LATERAL subqueries, chained: a
#   per-nation aggregate lateral (decorrelates to a partial-aggregated
#   equi-join — no nested-loop re-execution per outer row) feeding a
#   second lateral that derives expressions from the first's output
#   (the "lateral column reuse" idiom). Same SQL text both engines.
# - **q_tablesample_stable** — the TABLESAMPLE surface, made
#   driver-checkable: Spark's native seeded Bernoulli sample
#   (`df.sample(fraction, seed)` — the `TABLESAMPLE (10 PERCENT)
#   REPEATABLE (42)` plan) is per-partition-seeded, so its exact row
#   set is layout-dependent and can NEVER cross engines; the sample
#   still RUNS inside the registered query (the surface is exercised
#   on every bench/correctness pass), but its [1.5%, 25%] fraction
#   band is asserted in tests/test_extras84_witnesses.py, NOT in the
#   hash-gated columns — a ~1e-4-per-fresh-layout Binomial tail flip
#   must never read as a correctness red (round-9 advisor item). The
#   deterministic twin — the repo's md5-prefix hash filter (portable,
#   partition-invariant, the form a reproducible 100 TB pipeline
#   should actually use) — carries the exact oracle-matched stats.
# - **q_window_qualify** — QUALIFY semantics (filter on a window
#   function in the same SELECT): Spark has no QUALIFY keyword, so the
#   engine side is the canonical window + rank-filter rewrite — which
#   Catalyst turns into WindowGroupLimit (map-side per-group top-k
#   BEFORE the shuffle, plan-asserted in tests/test_scale_shapes.py),
#   the exact shape that survives 100 TB; the oracle is DuckDB's
#   native QUALIFY, proving semantic equivalence of the rewrite.
#
# Exactness: money in ROUND(x*100) BIGINT cents, one double division at
# the end with identical operand order (repo rule); ranks tie-broken by
# c_custkey; md5-prefix thresholds compare lowercase hex lexically on
# both engines.


_LATERAL_SQL = """
SELECT n.n_name, s.n_cust, s.bal_cents, d.avg_bal
FROM nation n,
LATERAL (SELECT COUNT(*) AS n_cust,
                CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT))
                     AS BIGINT) AS bal_cents
         FROM customer c WHERE c.c_nationkey = n.n_nationkey) s,
LATERAL (SELECT CASE WHEN s.n_cust > 0
                THEN CAST(s.bal_cents AS DOUBLE) / s.n_cust END AS avg_bal) d
ORDER BY n.n_name
"""


@query("q_join_lateral", oracle=_LATERAL_SQL)
def q_join_lateral(spark, sf_dir):
    """Chained correlated LATERAL subqueries (same SQL text as the
    oracle): per-nation customer aggregate in the first lateral, a
    derived-expression lateral consuming it. Catalyst decorrelates the
    aggregate lateral into groupBy(c_nationkey) ⋈ nation — one partial-
    aggregated shuffle on the key, no per-row re-execution — and folds
    the expression lateral into the projection; at 100 TB this is the
    same plan as the hand-written aggregate-join."""
    for t in ("nation", "customer"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


@query(
    "q_tablesample_stable",
    oracle="""
    WITH hs AS (
      SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
      WHERE SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 2) < '1a'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_hash_sample,
           CAST(SUM(bal_cents) AS BIGINT) AS hash_bal_cents,
           CAST(COUNT(*) * 1000 //
                (SELECT COUNT(*) FROM customer) AS BIGINT) AS hash_frac_pm
    FROM hs
    """,
)
def q_tablesample_stable(spark, sf_dir):
    """TABLESAMPLE surface + the deterministic sampling twin.

    The native path runs Spark's seeded Bernoulli sampler
    (``df.sample(0.10, seed=42)`` — the plan of ``TABLESAMPLE (10
    PERCENT) REPEATABLE (42)``) on every invocation, so the surface is
    exercised in the verified/benched path. Its seed derives per
    PARTITION, so the exact row set depends on file-split layout —
    reproducible within a session but not across engines or layouts.
    Round-9 advisor item: its [1.5%, 25%] fraction band used to ride in
    the hash-gated output with the oracle hard-coding TRUE; a Binomial
    tail flip (~1e-4 per fresh layout at sf0.001's n=150) would then
    read as a correctness red with no plan bug. The band now lives in
    ``tests/test_extras84_witnesses.py::test_native_sample_band`` (same
    [1.5%, 25%] bound, documented σ margins) and the hash gate carries
    only layout-invariant columns.

    The exact columns come from the md5-prefix hash sample (first two
    hex digits < '1a' ≈ 10.2%) — partition-invariant, layout-invariant,
    engine-portable, and O(1) per row with no shuffle: the form a
    reproducible 100 TB sampling stage should use (same convention as
    q_sample_hash). Both sampling plans are single narrow scans."""
    c = read_table(spark, sf_dir, "customer")
    n_total = c.count()
    # Exercise the native TABLESAMPLE plan (layout-dependent count —
    # band-asserted in tests, deliberately NOT in the hash-gated output).
    c.sample(fraction=0.10, seed=42).count()
    hs = c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2)
        < F.lit("1a")
    ).select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents")
    )
    return hs.agg(
        F.lit(int(n_total)).cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_hash_sample"),
        F.sum("bal_cents").cast("bigint").alias("hash_bal_cents"),
        F.expr(f"CAST(COUNT(1) * 1000 DIV {int(n_total)} AS BIGINT)").alias(
            "hash_frac_pm"
        ),
    )
