"""Aggregation and window-function queries (SURVEY.md §2.4, §2.5).

Group-by, distinct, rollup / cube / grouping sets, pivot and unpivot,
filtered and ordered-set aggregates, percentiles, modes and histograms;
ranking, offset, frame (ROWS / RANGE / GROUPS, EXCLUDE), QUALIFY and
distribution windows, each with its DuckDB twin or canonical rewrite.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.functions.scalar import dec, dsum
from self_healing_data_pipeline_spark.operators.aggregates import pricing_summary
from self_healing_data_pipeline_spark.operators.skew import salted_agg_count
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


# Aggregation + profiling queries (SURVEY.md §2.4, build step 3).


# Exact-decimal SQL fragments mirroring functions.scalar (see its module
# docstring for why: bit-identical float aggregates across engines).
_DSUM = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"
_DAVG = (
    "CAST(SUM(CAST({c} AS DECIMAL(12,2))) AS DOUBLE)"
    " / CAST(COUNT({c}) AS DOUBLE)"
)


@query(
    "q_agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_DSUM.format(c='l_quantity')} AS sum_qty,
           {_DSUM.format(c='l_extendedprice')} AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                    * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))))
                AS DOUBLE) AS sum_charge,
           {_DAVG.format(c='l_quantity')} AS avg_qty,
           {_DAVG.format(c='l_extendedprice')} AS avg_price,
           {_DAVG.format(c='l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark, sf_dir):
    """Flagship: TPC-H-Q1-shaped pricing summary (scan→filter→hash agg→sort)."""
    return pricing_summary(read_table(spark, sf_dir, "lineitem"))


@query(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_agg_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) — Catalyst plans expand + two-phase agg."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query("q_agg_approx_distinct")  # no oracle: HLL sketches differ per engine
def q_agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) — the 100 TB cardinality
    profiler (exact distinct at that scale is a full shuffle of all keys;
    HLL is a constant-size sketch merged map-side).

    Self-witnessing rows-only check: the exact COUNT(DISTINCT) rides in the
    same row, with an engine-side relative-error assertion (< 5% at
    rsd=0.02) so the record shows the sketch landed sane, not just "1 row".
    """
    rel_err = lambda approx, exact: F.abs(
        approx.cast("double") / exact.cast("double") - F.lit(1.0)
    )
    li = read_table(spark, sf_dir, "lineitem")
    # The two exact counts run as separate pre-distinct aggregates joined
    # onto the sketch row: multiple COUNT(DISTINCT x) in ONE aggregate
    # plan an Expand (row count × distinct-exprs) through a full shuffle —
    # ~6× slower at sf0.1 and linearly worse with data size. Per-column
    # distinct-then-count keeps each pass partially aggregated map-side.
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )
    exact_orders = (
        li.select("l_orderkey").distinct().agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    exact_parts = (
        li.select("l_partkey").distinct().agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    agg = approx.crossJoin(F.broadcast(exact_orders)).crossJoin(
        F.broadcast(exact_parts)
    )
    return agg.select(
        "approx_orders",
        "exact_orders",
        "approx_parts",
        "exact_parts",
        (
            (rel_err(F.col("approx_orders"), F.col("exact_orders")) < 0.05)
            & (rel_err(F.col("approx_parts"), F.col("exact_parts")) < 0.05)
        ).alias("within_5pct"),
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """ROLLUP with GROUPING() disambiguation of subtotal rows."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        )
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def q_agg_having(spark, sf_dir):
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "q_agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_pivot(spark, sf_dir):
    """Pivot = groupBy + pivot columns (conditional aggregation)."""
    li = read_table(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast("decimal(18,2)")
    qty = dec("l_quantity", precision=18)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "O", qty).otherwise(zero))
            .cast("double")
            .alias("qty_O"),
            F.sum(F.when(F.col("l_linestatus") == "F", qty).otherwise(zero))
            .cast("double")
            .alias("qty_F"),
        )
        .orderBy("l_returnflag")
    )


@query("q_agg_approx_percentile")  # sketch-based: engines differ → rows-only
def q_agg_approx_percentile(spark, sf_dir):
    """approx_percentile (KLL-style sketch) — the 100 TB quantile profiler
    (exact percentile needs a global sort; the sketch merges map-side).

    The quantile array is posexploded to scalar (flag, idx, value) rows so
    the output stays flat (driver canonicalizers can't hash array cells).
    Self-witnessing at TWO strengths (round-4 upgrade, mirroring the HLL
    accuracy gate q_distinct_sketch_accuracy): ``within_bounds`` brackets
    each approx value by the group min/max, and ``rank_ok`` verifies the
    sketch's actual accuracy contract — the returned value's TRUE rank
    INTERVAL in the group, [count(< v)/n, count(<= v)/n] (measured by one
    exact conditional-count aggregate joined back), must bracket the
    requested quantile within 0.001, 10× looser than the configured
    1/10000 rank-error guarantee. The tie-aware interval matters: on a
    column with heavy value ties, count(<= v) alone overshoots the target
    by the tie mass of v even when the sketch meets its contract — the
    percentile of a tied value is the whole interval, so the gate tests
    interval membership, not a point. The verification join broadcasts
    the 12-row quantile table onto the fact side — the witness costs one
    extra aggregate, never a sort."""
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.95], 10000).alias(
            "price_quantiles"
        ),
        F.min("l_extendedprice").alias("grp_min"),
        F.max("l_extendedprice").alias("grp_max"),
    )
    qrows = agg.select(
        "l_returnflag",
        F.posexplode("price_quantiles").alias("quantile_idx", "quantile_value"),
        "grp_min",
        "grp_max",
    ).withColumn(
        "target_p",
        F.element_at(
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95)),
            F.col("quantile_idx").cast("int") + 1,
        ),
    )
    achieved = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(qrows), "l_returnflag")
        .groupBy("l_returnflag", "quantile_idx")
        .agg(
            F.min("quantile_value").alias("quantile_value"),
            F.min("grp_min").alias("grp_min"),
            F.min("grp_max").alias("grp_max"),
            F.min("target_p").alias("target_p"),
            (
                F.sum(
                    F.when(
                        F.col("l_extendedprice") < F.col("quantile_value"), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("achieved_lo"),
            (
                F.sum(
                    F.when(
                        F.col("l_extendedprice") <= F.col("quantile_value"), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("achieved_hi"),
            F.count(F.lit(1)).alias("grp_n"),
        )
    )
    return achieved.select(
        "l_returnflag",
        F.col("quantile_idx").cast("bigint").alias("quantile_idx"),
        F.col("quantile_value").cast("double").alias("quantile_value"),
        (
            (F.col("quantile_value") >= F.col("grp_min"))
            & (F.col("quantile_value") <= F.col("grp_max"))
        ).alias("within_bounds"),
        (
            # tie-aware: target must fall within the value's rank
            # interval [count(< v)/n, count(<= v)/n], slackened by the
            # sketch guarantee (1e-4, 10× slack) OR one rank step
            # (1/n — achieved ranks are quantized on small groups)
            (
                F.col("target_p")
                >= F.col("achieved_lo")
                - F.greatest(F.lit(0.001), 1.0 / F.col("grp_n").cast("double"))
            )
            & (
                F.col("target_p")
                <= F.col("achieved_hi")
                + F.greatest(F.lit(0.001), 1.0 / F.col("grp_n").cast("double"))
            )
        ).alias("rank_ok"),
    )


# Window-function queries (SURVEY.md §2.5, build step 5).
#
# Every ORDER BY inside a window carries a unique tie-break key
# (o_orderkey / event_id) so ranks and offsets are total-ordered and
# reproducible across engines and partitionings.


@query(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_dense,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def q_window_rank(spark, sf_dir):
    """Ranking family: row_number / rank / dense_rank / ntile."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    w_dense = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w_rank).alias("price_rank"),
        F.dense_rank().over(w_dense).alias("prio_dense"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id,
           STRFTIME(LAG(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS prev_ts,
           STRFTIME(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS next_ts,
           LAG(event_type, 1) OVER w AS prev_type,
           FIRST_VALUE(event_id) OVER w AS first_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag(spark, sf_dir):
    """Analytic family: lag / lead / first_value."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        F.date_format(F.lag("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias("prev_ts"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias("next_ts"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.first("event_id").over(w).alias("first_event"),
    )


@query(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_3,
           CAST(COUNT(*) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS cnt_3
    FROM events
    """,
)
def q_window_frame(spark, sf_dir):
    """Explicit ROWS frames (moving window aggregate)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        F.sum(dec("value")).over(w.rowsBetween(-2, 0)).cast("double").alias("sum_3"),
        F.count(F.lit(1)).over(w.rowsBetween(-1, 1)).cast("bigint").alias("cnt_3"),
    )


@query(
    "q_window_running",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(COUNT(*) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_avg_10
    FROM events
    """,
)
def q_window_running(spark, sf_dir):
    """Running total + 10-row moving average (exact-decimal accumulation)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    mov = w.rowsBetween(-9, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(dec("value")).over(run).cast("double").alias("running_total"),
        (
            F.sum(dec("value")).over(mov).cast("double")
            / F.count(F.lit(1)).over(mov).cast("double")
        ).alias("moving_avg_10"),
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER
                (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
                AS BIGINT) AS n_near,
           CAST(MIN(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS min_near_below
    FROM orders
    """,
)
def q_window_range_frame(spark, sf_dir):
    """RANGE (value-based) frames — peers chosen by ORDER-BY value
    distance, not row position: how many of the customer's orders fall
    within ±1000 of this one's price. Same single shuffle as a ROWS
    frame; the frame bound comparison is value arithmetic, deterministic
    on both engines (counts and MIN only — no float accumulation)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1))
        .over(w.rangeBetween(-1000, 1000))
        .cast("bigint")
        .alias("n_near"),
        F.min("o_totalprice")
        .over(w.rangeBetween(-1000, Window.currentRow))
        .cast("double")
        .alias("min_near_below"),
    )


@query(
    "q_window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(FIRST_VALUE(o_totalprice) OVER w AS DOUBLE) AS first_price,
           CAST(LAST_VALUE(o_totalprice) OVER w AS DOUBLE) AS last_price,
           CAST(NTH_VALUE(o_totalprice, 2) OVER w AS DOUBLE) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark, sf_dir):
    """Navigation windows: each order alongside its customer's first,
    last, and second order price (customer-lifetime context per row —
    the "vs their first purchase" analytic). The frame is explicitly
    UNBOUNDED..UNBOUNDED: LAST_VALUE under the default frame (..CURRENT
    ROW) is the current row — the classic window gotcha — so the full
    frame is stated identically on both engines. One shuffle on
    o_custkey; (o_orderdate, o_orderkey) totally orders each partition."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).cast("double").alias("first_price"),
        F.last("o_totalprice").over(w).cast("double").alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).cast("double").alias(
            "second_price"
        ),
    )


# Additional SURVEY.md §2 surface: cube, cross join, subqueries, listagg,
# row-distinct, simhash, n-gram-Jaccard verification.


@query(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark, sf_dir):
    """CUBE: all 4 grouping-set combinations in one pass (Expand operator —
    rows are replicated per grouping set map-side, one shuffle total)."""
    return (
        read_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
        )
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def q_agg_listagg(spark, sf_dir):
    """Ordered string aggregation: collect_list → array_sort → join
    (deterministic — never rely on collect_list order alone)."""
    return (
        read_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
        .orderBy("n_regionkey")
    )


@query(
    "q_distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct_rows(spark, sf_dir):
    """Whole-row DISTINCT (hash aggregate on all columns)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


# Deeper analytic surface: multiway joins, distribution windows,
# filtered aggregation (SURVEY.md §2.3-2.5 depth).


@query(
    "q_window_distribution",
    oracle="""
    SELECT o_orderkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           CAST(NTILE(10) OVER w AS BIGINT) AS decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution(spark, sf_dir):
    """Distribution windows: percent_rank / cume_dist / ntile under a
    total order (unique tie-break keeps both engines identical)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@query(
    "q_agg_filtered",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS open_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_filtered(spark, sf_dir):
    """FILTER-clause aggregation (conditional aggregates in one pass —
    the profiling workhorse; Catalyst fuses all three into one scan)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.count(F.when(F.col("l_quantity") >= 25, 1)).alias("n_bulk"),
            F.sum(
                F.when(
                    F.col("l_linestatus") == "O",
                    dec("l_extendedprice", precision=18),
                )
            )
            .cast("double")
            .alias("open_price"),
        )
        .orderBy("l_returnflag")
    )


# Analytic surface extensions: grouping sets, exact correlation moments,
# boolean aggregates, funnel/retention event analytics, calendar gap-fill,
# fuzzy (edit-distance) matching, correlated-subquery decorrelation, and the
# multimodal feature pipeline as a first-class query.
#
# These extend SURVEY.md §2.4 (aggregation), §2.9 (event analytics) and
# §2.11 (training-data ops). The reference delegates all of this to its
# embedded Postgres via ``executeSql`` (``automated-data-catalog-&-etl/
# services/pgliteService.ts:36-49``); here each is an idiomatic Catalyst
# plan with a DuckDB oracle where SQL-expressible.
#
# Scale notes (100 TB):
# - grouping sets ride Spark's Expand operator — one scan, rows × |sets|
#   before partial aggregation, so shuffle is bounded by group cardinality;
# - correlation/covariance come from ONE pass of exact-decimal moments
#   (sums commute → map-side partials; no second scan, no row reorder
#   sensitivity — see functions.scalar on cross-engine float determinism);
# - funnel/retention shuffle once on user_id (the natural key) and reduce
#   to per-user rows before any join — never a per-event self-join;
# - the fuzzy self-join blocks on lang before the quadratic comparator
#   (same blocking discipline as the MinHash/SimHash dedup family).


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond ROLLUP/CUBE): (status, priority),
    (status), and grand total in one Expand + hash-aggregate pass."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        )
    )


# Exact-decimal moment fragments (x = l_quantity, y = l_extendedprice),
# scaled to INTEGRAL decimals (cents / cents²) before the double cast:
# fractional decimal→double conversion rounds twice in some engines
# (integer / 10^scale), so a decimal(38,4) sum can land 1 ulp away from
# another engine's conversion. An integral decimal converts in ONE
# rounding everywhere. corr is scale-invariant, covar is rescaled below.
_SX = "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS DOUBLE)"
_SY = "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS DOUBLE)"
_SXX = (
    "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))"
    " * CAST(l_quantity AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,0)) AS DOUBLE)"
)
_SYY = (
    "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,0)) AS DOUBLE)"
)
_SXY = (
    "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))"
    " * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,0)) AS DOUBLE)"
)


@query(
    "q_agg_corr",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {_SX} AS sx, {_SY} AS sy, {_SXX} AS sxx, {_SYY} AS syy, {_SXY} AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / (SQRT(GREATEST(n * sxx - sx * sx, 0.0))
                * SQRT(GREATEST(n * syy - sy * sy, 0.0))) AS corr_qty_price,
           (n * sxy - sx * sy) / (n * (n - 1.0)) / 10000.0
             AS covar_samp_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def q_agg_corr(spark, sf_dir):
    """Pearson correlation + sample covariance from one pass of
    exact-decimal moments. The built-in ``corr``/``covar_samp`` accumulate
    doubles in shuffle order (non-reproducible run-to-run at scale and
    engine-to-engine); decimal moments make every bit deterministic while
    keeping map-side partial aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    qty = dec("l_quantity", precision=18)
    price = dec("l_extendedprice", precision=18)

    def integral(s, scale_pow):  # decimal sum → integral decimal → double
        return (
            (s * F.lit(10**scale_pow))
            .cast("decimal(38,0)")
            .cast("double")
        )

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        integral(F.sum(qty), 2).alias("sx"),
        integral(F.sum(price), 2).alias("sy"),
        integral(F.sum(qty * qty), 4).alias("sxx"),
        integral(F.sum(price * price), 4).alias("syy"),
        integral(F.sum(qty * price), 4).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (
            (n * sxy - sx * sy)
            / (
                F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0)))
                * F.sqrt(F.greatest(n * syy - sy * sy, F.lit(0.0)))
            )
        ).alias("corr_qty_price"),
        # moments are in cents (×10² per variable) → covar carries 10⁴
        ((n * sxy - sx * sy) / (n * (n - F.lit(1.0))) / F.lit(10000.0)).alias(
            "covar_samp_qty_price"
        ),
    ).orderBy("l_returnflag")


@query(
    "q_agg_bool",
    oracle="""
    SELECT o_orderpriority,
           BOOL_AND(o_totalprice < 300000) AS all_below_300k,
           BOOL_OR(o_orderstatus = 'F') AS any_finished,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_agg_bool(spark, sf_dir):
    """Boolean aggregates (BOOL_AND / BOOL_OR) — the SQL form of
    universally/existentially quantified data-quality assertions."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") < 300000).alias("all_below_300k"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_skew_salted_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_skew_salted_agg(spark, sf_dir):
    """Two-phase salted count for skewed group keys (partial per
    (key, salt) → final per key). The oracle is the plain GROUP BY —
    salting is invisible in the result, only in the shuffle layout.
    Note lineitem's returnflag/linestatus IS a skewed key set (3×2 groups
    over all rows), exactly the shape where AQE can't help an aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    return salted_agg_count(li, ["l_returnflag", "l_linestatus"], salt=16)


@query(
    "q_agg_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      UNPIVOT (SELECT c_custkey, c_acctbal AS acctbal,
                      CAST(c_nationkey AS DOUBLE) AS nationkey
               FROM customer)
      ON acctbal, nationkey INTO NAME metric VALUE val
    )
    """,
)
def q_agg_unpivot(spark, sf_dir):
    """UNPIVOT / melt — wide→long reshaping (the inverse of q_agg_pivot).
    Spark's unpivot is a zero-shuffle narrow transform: each input row
    expands to one row per value column, so it streams at scan speed."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q_groupwise_argmax",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey, c.c_custkey, c.c_name,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spent
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                   ORDER BY total_spent DESC, c_custkey) AS rn
      FROM spend
    )
    SELECT c_nationkey, c_custkey, c_name, total_spent
    FROM ranked WHERE rn = 1
    """,
)
def q_groupwise_argmax(spark, sf_dir):
    """Group-wise argmax (top customer per nation by exact-decimal total
    spend): join → hash agg → window rank → filter. The aggregation
    reduces to |customers| rows BEFORE the window, so the rank pass
    shuffles the reduced set, not raw orders; tie-break on c_custkey
    keeps the winner total-ordered."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_nationkey", "c_custkey", "c_name")
        .agg(dsum("o_totalprice").alias("total_spent"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("total_spent").desc(), F.col("c_custkey")
    )
    return (
        spend.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", "c_name", "total_spent")
    )


@query(
    "q_percentile_cont",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), bounds AS (
      SELECT event_type, CAST(n AS BIGINT) AS n,
             MAX(CASE WHEN rn = 1 + (95 * (n - 1)) // 100
                      THEN value END) AS lo,
             MAX(CASE WHEN rn = 1 + (95 * (n - 1)) // 100
                           + CASE WHEN (95 * (n - 1)) % 100 > 0
                                  THEN 1 ELSE 0 END
                      THEN value END) AS hi
      FROM ranked GROUP BY event_type, n
    )
    SELECT event_type, n AS n_events, lo, hi,
           lo + (hi - lo) * (CAST((95 * (n - 1)) % 100 AS DOUBLE) / 100)
             AS p95_cont
    FROM bounds ORDER BY event_type
    """,
)
def q_percentile_cont(spark, sf_dir):
    """SQL-standard INTERPOLATED p95 (PERCENTILE_CONT) per event type —
    the continuous companion to q_percentile_bands' exact discrete
    ranks: index i = 0.95·(n−1) splits into integer rank k = i//1 and
    fraction f, and the percentile is lo + (hi−lo)·f.

    Determinism: BOTH engines use the same manual formulation (never
    each engine's built-in, whose interpolation arithmetic differs in
    operand order): k and the fraction numerator are pure integer
    arithmetic (95·(n−1) split by // and mod 100), lo/hi are raw
    column values selected by exact rank with a total (value,
    event_id) tie-break, and the interpolation is a mirrored 4-op IEEE
    chain — bit-identical doubles.

    Scale shape: rank selection inside per-type windows (the
    q_percentile_bands pass — at 100 TB, swap in the two-phase bucket
    decomposition if a single type dominates); bounds collapse to one
    row per type."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    num = 95 * (F.col("n") - 1)
    k = F.lit(1) + ((num - F.pmod(num, 100)) / 100).cast("bigint")
    has_frac = F.pmod(num, 100) > 0
    bounds = (
        ranked.groupBy("event_type", F.col("n").cast("bigint").alias("n"))
        .agg(
            F.max(F.when(F.col("rn") == k, F.col("value"))).alias("lo"),
            F.max(
                F.when(
                    F.col("rn")
                    == k + F.when(has_frac, F.lit(1)).otherwise(F.lit(0)),
                    F.col("value"),
                )
            ).alias("hi"),
        )
    )
    frac = F.pmod(95 * (F.col("n") - 1), 100).cast("double") / F.lit(100).cast(
        "double"
    )
    return bounds.select(
        "event_type",
        F.col("n").alias("n_events"),
        "lo",
        "hi",
        (F.col("lo") + (F.col("hi") - F.col("lo")) * frac).alias("p95_cont"),
    ).orderBy("event_type")


# SURVEY.md §2.4 reporting + §2.9 streaming: SHARE-OF-PARENT hierarchy
# report (nation share within region, region share of total — the
# drill-down ratio every BI hierarchy renders) — the oracle-checked
# companion to this batch's true-streaming lateness monitor
# (`streaming/lateness.py`, the continuous q_watermark_audit twin
# asserted cell-equal in `tests/test_lateness_stream.py`).


@query(
    "q_share_of_parent",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), reg AS (
      SELECT region, CAST(SUM(cents) AS BIGINT) AS reg_cents
      FROM rev GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS all_cents FROM rev
    )
    SELECT v.region, v.nation, v.cents,
           CAST(v.cents * 1000000 // g.reg_cents AS BIGINT)
             AS share_of_region_ppm,
           CAST(g.reg_cents * 1000000 // t.all_cents AS BIGINT)
             AS region_share_ppm
    FROM rev v JOIN reg g ON v.region = g.region, tot t
    ORDER BY v.region, v.nation
    """,
)
def q_share_of_parent(spark, sf_dir):
    """SHARE-OF-PARENT hierarchy report: revenue by region → nation
    with each nation's exact-ppm share of its region and each region's
    share of the total — the drill-down ratio every BI hierarchy
    renders next to the raw numbers (and the two-level generalization
    of q_dow_seasonality's share-of-total).

    Scale shape: ONE fact pass — orders⋈customer is the only big join
    (keyed shuffle; bucketed layouts make it shuffle-free), nation and
    region broadcast — collapsing to the (region, nation) grain;
    region and grand totals are second-stage aggregates of that tiny
    grain, broadcast back. Shares are exact integer ppm by floor
    division — no window, no SinglePartition over data."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    reg = rev.groupBy("region").agg(
        F.sum("cents").cast("bigint").alias("reg_cents")
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("all_cents"))

    def ppm(num, den):
        # cents·10⁶ exceeds 2^53 here (regional masses), so the usual
        # (x − pmod)/x double trick would lose ulps: divide the exactly
        # divisible numerator in DECIMAL(38,0) instead — exact at any
        # magnitude int64 holds
        scaled = num * F.lit(1000000)
        exact = (scaled - F.pmod(scaled, den)).cast("decimal(38,0)")
        return (exact / den.cast("decimal(38,0)")).cast("bigint")

    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "cents",
            ppm(F.col("cents"), F.col("reg_cents")).alias(
                "share_of_region_ppm"
            ),
            ppm(F.col("reg_cents"), F.col("all_cents")).alias(
                "region_share_ppm"
            ),
        )
        .orderBy("region", "nation")
    )


# SURVEY.md §2.5 window functions / §2.4 aggregates: NTH_VALUE +
# frame-wide FIRST/LAST analytic windows (the §2.5 members round 1's
# lag/lead batch didn't cover — with the explicit UNBOUNDED..UNBOUNDED
# frame a migrating SQL user reaches for) and the deterministic MODE
# aggregate (most frequent value per group with an explicit tie-break —
# engines' built-in MODE() leaves ties unspecified, so the portable form
# is a rank over value counts).
#
# Exactness: all values are fixture column values selected under a
# unique (value, key) order; mode counts and shares are exact integers
# with one final IEEE division.


@query(
    "q_window_nth",
    oracle="""
    SELECT c_mktsegment,
           c_custkey,
           c_acctbal,
           NTH_VALUE(c_acctbal, 3) OVER w AS third_lowest,
           FIRST_VALUE(c_acctbal) OVER w AS lowest,
           LAST_VALUE(c_acctbal) OVER (
             PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS highest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING)
    ORDER BY c_mktsegment, c_acctbal, c_custkey
    LIMIT 200
    """,
)
def q_window_nth(spark, sf_dir):
    """NTH_VALUE + frame-wide FIRST/LAST per market segment: each
    customer row annotated with the segment's lowest, third-lowest,
    and highest balance — the remaining §2.5 analytic-window members
    (lag/lead/first/last with default frames landed in round 1;
    nth_value and the explicit UNBOUNDED..UNBOUNDED frame are what a
    migrating SQL user still reaches for). The unique (balance, key)
    order makes every value deterministic cross-engine.

    Scale shape: one window exchange hash-partitioned by segment; the
    top-200 LIMIT rides the total order (TakeOrderedAndProject)."""
    c = read_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.nth_value("c_acctbal", 3).over(w).alias("third_lowest"),
            F.first("c_acctbal").over(w).alias("lowest"),
            F.last("c_acctbal").over(w).alias("highest"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
        .limit(200)
    )


@query(
    "q_agg_mode",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ), ranked AS (
      SELECT c_mktsegment, c_nationkey, n,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, c_nationkey) AS rn,
             SUM(n) OVER (PARTITION BY c_mktsegment) AS seg_rows
      FROM counts
    )
    SELECT c_mktsegment,
           CAST(c_nationkey AS BIGINT) AS mode_nationkey,
           CAST(n AS BIGINT) AS mode_rows,
           CAST(seg_rows AS BIGINT) AS seg_rows,
           CAST(n AS DOUBLE) / CAST(seg_rows AS DOUBLE) AS mode_share
    FROM ranked WHERE rn = 1
    ORDER BY c_mktsegment
    """,
)
def q_agg_mode(spark, sf_dir):
    """DETERMINISTIC MODE per group: the most frequent nation among
    each market segment's customers, ties broken by the lowest key —
    the portable form of the MODE() aggregate, whose tie behavior the
    SQL engines leave unspecified (a direct MODE() call could
    hash-mismatch on any tied fixture). Reports the winning value, its
    row count, the segment total, and the share (one IEEE division of
    exact longs).

    Scale shape: one value-grain partial-aggregated count (shuffle
    carries (segment, nation) pairs — the bounded domain, never
    customers), then a rank window over that already-tiny frame."""
    c = read_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("c_nationkey")
    )
    wseg = Window.partitionBy("c_mktsegment")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("seg_rows", F.sum("n").over(wseg))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("bigint").alias("mode_nationkey"),
            F.col("n").cast("bigint").alias("mode_rows"),
            F.col("seg_rows").cast("bigint").alias("seg_rows"),
            (
                F.col("n").cast("double")
                / F.col("seg_rows").cast("double")
            ).alias("mode_share"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_window_cume_dist",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CUME_DIST() OVER w AS cume,
           PERCENT_RANK() OVER w AS pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_acctbal, c_custkey
    LIMIT 200
    """,
)
def q_window_cume_dist(spark, sf_dir):
    """CUME_DIST + PERCENT_RANK per market segment — the §2.5
    distribution windows (rank/dense_rank/row_number landed round 1).
    The (balance, key) order is unique, so both are single IEEE
    divisions of exact integer ranks: rows≤current / n and
    (rank−1)/(n−1) — bit-exact cross-engine.

    Scale shape: ONE window exchange hash-partitioned by segment (both
    functions share the window), top-200 via the total order."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.cume_dist().over(w).alias("cume"),
            F.percent_rank().over(w).alias("pct_rank"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
        .limit(200)
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           NTILE(4) OVER (PARTITION BY o_custkey % 10
                          ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    WHERE o_orderkey % 37 = 0
    ORDER BY o_custkey % 10, o_totalprice, o_orderkey
    LIMIT 200
    """,
)
def q_window_ntile(spark, sf_dir):
    """NTILE(4) bucket assignment — the remaining §2.5 ranking window.
    Both engines implement the SQL-standard tile rule (the first
    n mod 4 tiles get the extra row), and the (price, key) order is
    unique, so the integer tile labels replicate exactly."""
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 37 == 0
    )
    w = Window.partitionBy(F.col("o_custkey") % 10).orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy(F.col("o_custkey") % 10, "o_totalprice", "o_orderkey")
        .limit(200)
    )


# SURVEY.md §2.4 / §2.11: multi-measure PIVOT (§2.4 shipped
# single-aggregate pivot), GROUPING_ID exposure over grouping sets (the
# bitmask a BI layer keys subtotal rows off), and bit-exact embedding
# deduplication (the exact-duplicate-vector audit a training pipeline
# runs before ANN indexing — re-ingested shards produce byte-identical
# vectors under new ids).
#
# Exactness: money in exact cents; the embedding digest quantizes each
# float to a ROUND(x·1e5) long before hashing, so the key derivation is
# integer-identical cross-engine (float FORMATTING never enters the
# key); grouping bits are integers.


@query(
    "q_pivot_multi_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS f_cents,
           CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)
             AS f_n,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS o_cents,
           CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)
             AS o_n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_pivot_multi_agg(spark, sf_dir):
    """PIVOT with MULTIPLE simultaneous measures (sum + count per
    pivoted column value) — §2.4 shipped the single-aggregate pivot;
    the multi-measure form is what migration from a BI tool's
    cross-tab actually needs, and Spark names the output columns
    ``<value>_<alias>`` so both measures must be aliased explicitly to
    stay oracle-comparable. Cents stay exact integers end-to-end.

    Scale shape: pivot compiles to one hash aggregate whose state is
    (groups × pivot values × measures) — all bounded domains — with
    map-side partials; the raw stream shuffles once at group grain."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    p = (
        li.select("l_returnflag", "l_linestatus", cents.alias("cents"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.sum("cents").alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # Empty pivot cells come back NULL (Spark skips the aggregate for a
    # missing (group, value) cell entirely — a coalesce INSIDE the agg
    # never runs), while the oracle's CASE form yields 0: zero-fill
    # AFTER the pivot so absent combinations match at every SF.
    return p.select(
        "l_returnflag",
        F.coalesce("F_cents", F.lit(0)).alias("f_cents"),
        F.coalesce("F_n", F.lit(0)).alias("f_n"),
        F.coalesce("O_cents", F.lit(0)).alias("o_cents"),
        F.coalesce("O_n", F.lit(0)).alias("o_n"),
    ).orderBy("l_returnflag")


@query(
    "q_grouping_id",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_grouping_id(spark, sf_dir):
    """GROUPING_ID over grouping sets — the bitmask that tells a
    consumer WHICH aggregation level each row belongs to (a NULL group
    value is otherwise ambiguous with a NULL in the data; §2.4 shipped
    grouping sets without the discriminator). Spark's grouping_id()
    bit order matches GROUPING(a)*2 + GROUPING(b), which is the
    portable spelling DuckDB agrees on.

    Scale shape: one expand + hash aggregate, exact cents."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.select("o_orderstatus", "o_orderpriority", cents.alias("cents"))
        .groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.sum("cents").alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            "gid",
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


# SURVEY.md §2.9 / §2.5 / §2.4: CHUNKED TWO-PHASE SESSIONIZATION — the
# skew-safe form of gaps-and-islands promised as the mitigation path in
# SCALE.md's skew-tier row (a user holding 20% of the stream serializes
# the plain per-user window; bucketing the timeline caps any window
# partition at (user, day) grain) — plus IGNORE-NULLS analytic windows
# (LOCF forward fill, the §2.5 member the attribution query uses
# implicitly but no dedicated key pinned) and an equal-width histogram
# in pure integer arithmetic.
#
# Exactness: the two-phase sessionizer is proven against the IDENTICAL
# oracle as q_sessionize (same output, different plan); LOCF copies
# column values untouched; histogram bins are exact integer cents math.


@query(
    "q_window_ignore_nulls",
    oracle="""
    WITH sparse AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events WHERE user_id % 97 = 0
    )
    SELECT user_id, event_id,
           LAST_VALUE(purchase_value IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM sparse
    ORDER BY user_id, event_id
    """,
)
def q_window_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS analytic window — LOCF forward fill of the last
    purchase value over each user's timeline (§2.5's last unpinned
    member: attribution uses the pattern implicitly; this key pins the
    IGNORE NULLS semantics themselves, incl. the all-NULL prefix
    staying NULL). Values pass through untouched, so the doubles are
    bit-exact by construction."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 97 == 0
    )
    sparse = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "purchase_value"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        sparse.select(
            "user_id",
            "event_id",
            F.last("purchase_value", ignorenulls=True)
            .over(w)
            .alias("last_purchase_value"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q_histogram_bins",
    oracle="""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), b AS (
      SELECT CAST(MIN(cents) AS BIGINT) AS lo,
             CAST(MAX(cents) AS BIGINT) AS hi FROM c
    )
    SELECT CAST((c.cents - b.lo) * 20 // (b.hi - b.lo + 1) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(c.cents) AS BIGINT) AS min_cents,
           CAST(MAX(c.cents) AS BIGINT) AS max_cents
    FROM c, b
    GROUP BY 1 ORDER BY bin
    """,
)
def q_histogram_bins(spark, sf_dir):
    """Equal-width 20-bin histogram of order totals in PURE INTEGER
    arithmetic: bin = (cents − lo)·20 div (hi − lo + 1) — the portable
    spelling of width_bucket, whose built-in edge semantics differ
    across engines. The global min/max are one broadcast scalar row;
    the histogram is a bounded-domain aggregate with map-side
    partials."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    c = o.select(cents.alias("cents"))
    b = c.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    return (
        c.crossJoin(F.broadcast(b))
        .select(
            F.expr("(cents - lo) * 20 div (hi - lo + 1)").alias("bin"),
            "cents",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("bin")
    )


@query(
    "q_window_qualify",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC,
                        c_custkey) AS BIGINT) AS rn
    FROM customer
    QUALIFY rn <= 3
    ORDER BY c_mktsegment, rn
    """,
)
def q_window_qualify(spark, sf_dir):
    """QUALIFY-style filtered window — top-3 customers by balance per
    market segment. The oracle uses DuckDB's native QUALIFY; Spark has
    no QUALIFY keyword, so the engine side is the canonical rewrite
    (window then rank filter), which Catalyst compiles to
    WindowGroupLimit: each map task keeps only its local top-3 per
    segment BEFORE the shuffle, so the exchange carries
    O(partitions × segments × k) rows regardless of table size — the
    rank-filter window is one of the few window shapes that gets
    CHEAPER than a full window at 100 TB (plan-asserted)."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


# SURVEY.md §2 Tier-B surface parity, continuing batch 67: four more
# features of the reference's delegated Postgres surface
# (`APP/services/pgliteService.ts:36-49` executes arbitrary SQL, so the
# Postgres analytic dialect is the capability the reference exposes):
#
# - **q_distinct_on** — Postgres's `SELECT DISTINCT ON (k) ... ORDER BY
#   k, v DESC` (first row per group under an order): Spark has no
#   DISTINCT ON, so the engine side is the canonical row_number()=1
#   rewrite — which compiles to WindowGroupLimit (map-side top-1 per
#   group BEFORE the shuffle); the oracle is DuckDB's native DISTINCT ON,
#   proving the rewrite's semantics.
# - **q_agg_filter** — the SQL:2003 aggregate FILTER clause, supported
#   natively by BOTH engines since Spark 4 (same SQL text both sides):
#   selective counts/sums without self-joins or CASE pyramids — each
#   FILTER aggregate stays one partial-aggregated pass.
# - **q_string_agg** — ordered string aggregation (Postgres string_agg
#   / ISO listagg): Spark 4 `listagg(x, ',') WITHIN GROUP (ORDER BY …)`
#   vs DuckDB `string_agg(x, ',' ORDER BY …)`. The aggregated set is
#   rank-bounded FIRST (top-3 per group via WindowGroupLimit) — the
#   scale-safe form: an unbounded group concat is a driver-sized string
#   bomb at 100 TB, a bounded one is O(groups × k).
# - **q_percentile_within_group** — the NATIVE ordered-set aggregate `percentile_cont(p)
#   WITHIN GROUP (ORDER BY v)` (Spark 4 syntax-native). Engines differ
#   in interpolation FORM (Spark: lo + frac·(hi−lo); DuckDB quantile
#   interpolates differently in the last ulp), so the oracle replays
#   Spark's exact chain — pos = p·(n−1) over integer cents, lo/hi via
#   rank windows, one float multiply-add — making the hash gate exact.
#
# Money in ROUND(x*100) BIGINT cents throughout; every group/order has a
# unique tie-break (repo exactness rules).


@query(
    "q_distinct_on",
    oracle="""
    SELECT DISTINCT ON (c_mktsegment)
           c_mktsegment,
           c_custkey,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer
    ORDER BY c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC,
             c_custkey
    """,
)
def q_distinct_on(spark, sf_dir):
    """Postgres DISTINCT ON — richest customer per market segment.
    Spark rewrite: row_number()=1 over (segment, balance DESC,
    custkey), which Catalyst compiles to WindowGroupLimit: each map
    task forwards ONE row per segment to the shuffle, so the exchange
    is O(partitions × segments) regardless of table size. The oracle
    is DuckDB's native DISTINCT ON under the identical ORDER BY —
    semantic equivalence of the rewrite is what the hash verifies."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("c_mktsegment")
    )


_FILTER_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT)
         AS finished_cents,
       CAST(COUNT(*) FILTER (WHERE o_orderdate >= DATE '2024-06-01')
            AS BIGINT) AS n_recent
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_agg_filter", oracle=_FILTER_SQL)
def q_agg_filter(spark, sf_dir):
    """SQL:2003 aggregate FILTER clause, same SQL text on both engines
    (native in Spark 4 and DuckDB): per-priority totals with selective
    finished/recent sub-aggregates — no self-join, no CASE pyramid.
    Plan: ONE scan, one partial-aggregated exchange; each FILTER
    aggregate is a conditional accumulator inside the same hash
    aggregate, so adding filters never adds passes — exactly what you
    want for a 100 TB fact profile."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_FILTER_SQL)


@query(
    "q_string_agg",
    oracle="""
    WITH top3 AS (
      SELECT c_nationkey, c_custkey, c_name
      FROM (
        SELECT c_nationkey, c_custkey, c_name,
               ROW_NUMBER() OVER (
                 PARTITION BY c_nationkey
                 ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC,
                          c_custkey) AS rn
        FROM customer)
      WHERE rn <= 3
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_listed,
           string_agg(c_name, ',' ORDER BY c_custkey) AS top_names
    FROM top3
    GROUP BY c_nationkey
    ORDER BY nationkey
    """,
)
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation (Postgres string_agg / ISO listagg,
    Spark 4 `listagg ... WITHIN GROUP`): comma list of each nation's
    top-3 customers by balance. The concat input is rank-BOUNDED first
    (WindowGroupLimit top-3 per nation) so the aggregated string is
    O(k·name_len) per group at any table size — the scale-safe form of
    a group concat; an unbounded listagg over 100 TB would be a
    per-group string bomb. Order inside the string is pinned by
    c_custkey on both engines (deterministic bytes, hash-exact)."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey")
    )
    top3 = c.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    top3.createOrReplaceTempView("__sa_top3")
    return spark.sql(
        """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_custkey)
                 AS top_names
        FROM __sa_top3
        GROUP BY c_nationkey
        ORDER BY nationkey
        """
    )


@query(
    "q_percentile_within_group",
    # Interpolation replayed in Spark's exact form — pos = p·(n−1) on
    # the sorted cents, result = lo + frac·(hi−lo) as DOUBLE — because
    # DuckDB's quantile_cont interpolates in a different operand order
    # (last-ulp mismatches on the hash gate).
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment,
             CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS DOUBLE) AS v
      FROM customer
    ), ranked AS (
      SELECT c_mktsegment, v,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY v)
               AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM cents
    ), pick AS (
      SELECT c_mktsegment, p,
             MAX(CASE WHEN rn - 1 = CAST(FLOOR(p * (n - 1)) AS BIGINT)
                      THEN v END) AS lo,
             MAX(CASE WHEN rn - 1 = LEAST(CAST(FLOOR(p * (n - 1))
                          AS BIGINT) + 1, n - 1)
                      THEN v END) AS hi,
             MAX(p * (n - 1) - FLOOR(p * (n - 1))) AS frac
      FROM ranked
      CROSS JOIN (SELECT UNNEST([0.25, 0.5, 0.75]) AS p)
      GROUP BY c_mktsegment, p
    )
    SELECT c_mktsegment,
           CAST(MAX(CASE WHEN p = 0.25 THEN lo + frac * (hi - lo) END)
                AS DOUBLE) AS p25_cents,
           CAST(MAX(CASE WHEN p = 0.5 THEN lo + frac * (hi - lo) END)
                AS DOUBLE) AS p50_cents,
           CAST(MAX(CASE WHEN p = 0.75 THEN lo + frac * (hi - lo) END)
                AS DOUBLE) AS p75_cents
    FROM pick
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_percentile_within_group(spark, sf_dir):
    """NATIVE ordered-set aggregate percentile_cont WITHIN GROUP
    (Spark 4 syntax): exact interpolated quartiles of customer balance
    per market segment. Complements q_percentile_cont (sql_aggregates.py),
    which pins the MANUAL mirrored formulation on both engines; this
    key exercises the built-in aggregate itself — its WITHIN GROUP
    parse path and its partial-aggregated Percentile plan — on integer cents so the only float operation
    is the final interpolation multiply-add (value-exact inputs ≤ 2^53
    → the chain replicates bit-exact when mirrored). Plan: Spark's
    Percentile aggregate is a partial-aggregated sketchless exact form
    (per-partition value maps merged on the reduce side) — one
    exchange, no global sort."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__pc_customer"
    )
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY
                 CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS DOUBLE))
                 AS DOUBLE) AS p25_cents,
               CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY
                 CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS DOUBLE))
                 AS DOUBLE) AS p50_cents,
               CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY
                 CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS DOUBLE))
                 AS DOUBLE) AS p75_cents
        FROM __pc_customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


# SURVEY.md §2 Tier-B window parity + §2.11 corpus ops: SQL-standard
# window frame EXCLUDE clauses, and PII REDACTION (the transform
# q_pii_scan only profiles).
#
# - **q_window_exclude** — the SQL:2011 frame exclusion clause
#   (`EXCLUDE CURRENT ROW / TIES / GROUP`), which Spark does not parse:
#   over a numeric RANGE frame every peer of the current row is inside
#   the frame by construction, so all three exclusions are EXACT integer
#   arithmetic on two window sums — total-frame sum/count and
#   peer-group sum/count — and the rewrite needs no extra shuffle (both
#   windows share the partition key). The oracle is DuckDB's NATIVE
#   EXCLUDE under the identical frame, including its empty-frame NULL
#   semantics (mirrored with count guards in the rewrite).
# - **q_pii_redact_injected** — the POSITIVE-SIGNAL twin of q_pii_redact (which redacts the PII-free fixture corpus, so its match counts are all zero): the redaction stage after q_pii_scan's profile:
#   deterministic PII is INJECTED in-query (the fixture corpus is
#   PII-free word-pool text; both engines append the identical
#   ``user<doc_id>@example.com`` / ``555-123-4567`` payloads to the same
#   doc_id strata — the multimodal-keys synthesis pattern), then
#   stripped with regexp_replace into typed placeholders. The driver
#   hash-verifies counts, the redacted-text digest, AND a
#   ``no_pii_left`` re-scan witness (expected TRUE).
#
# Regex subset restricted to patterns with identical Java/RE2 semantics
# (the q_pii_scan rule); money/none here — all counts integer-exact.


_RANGE_CENTS = 1000  # ±10.00 of value around the current row


@query(
    "q_window_exclude",
    oracle=f"""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      FROM events
      WHERE value IS NOT NULL
    )
    SELECT event_id, event_type, value_cents,
           CAST(SUM(value_cents) OVER (
                PARTITION BY event_type ORDER BY value_cents
                RANGE BETWEEN {_RANGE_CENTS} PRECEDING
                          AND {_RANGE_CENTS} FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS excl_current_sum,
           CAST(SUM(value_cents) OVER (
                PARTITION BY event_type ORDER BY value_cents
                RANGE BETWEEN {_RANGE_CENTS} PRECEDING
                          AND {_RANGE_CENTS} FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS excl_ties_sum,
           CAST(SUM(value_cents) OVER (
                PARTITION BY event_type ORDER BY value_cents
                RANGE BETWEEN {_RANGE_CENTS} PRECEDING
                          AND {_RANGE_CENTS} FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS excl_group_sum
    FROM v ORDER BY event_id
    """,
)
def q_window_exclude(spark, sf_dir):
    """SQL:2011 window frame EXCLUDE (CURRENT ROW / TIES / GROUP) —
    neighborhood statistics that must not count the row itself (leakage
    control in feature engineering: "average of OTHER similar events").
    Spark has no EXCLUDE clause; over a RANGE frame every peer (equal
    ORDER BY value) is in-frame by definition, so the three exclusions
    reduce to exact integer arithmetic on two shared-shuffle windows:

        excl_current = total − v            (NULL when frame == {{row}})
        excl_ties    = total − peers + v    (current row always kept)
        excl_group   = total − peers        (NULL when frame == peers)

    The NULL guards mirror the standard's empty-exclusion semantics,
    which DuckDB's native EXCLUDE (the oracle) implements.

    Plan — PREFIX-SUM + BOUNDARY PROBES (round-11 refit; linear): Spark
    evaluates sliding RANGE aggregates WITHOUT retraction
    (SlidingWindowFunctionFrame re-sums the in-frame buffer per row), so
    even the round-9 GROUP-grain form was O(groups × frame_density) —
    5.4 s accepted, the suite's slowest key. A sliding integer-RANGE sum
    is a difference of two prefix sums: with cum(x) = Σ contributions at
    values ≤ x,

        frame_total(v) = cum(v + R) − cum(v − R − 1)       (integer cents)

    and a GROWING frame (UNBOUNDED PRECEDING .. CURRENT ROW by RANGE)
    *is* incrementally maintained by Spark
    (UnboundedPrecedingWindowFunctionFrame) — one O(n) pass. The two
    boundary lookups land at values that need not exist in the domain,
    so each distinct (type, value) group emits two ZERO-WEIGHT probe
    rows at v+R and v−R−1; the probes ride the same cumulative window
    (RANGE peers at an equal position share one cum, so probe/base ties
    are exact), then fold back to one row per group as
    cum_hi − cum_lo. Everything stays at VALUE-DOMAIN grain — the
    window input is 3×|domain| rows regardless of row count — and rows
    join back on the group key. peer_sum / peer_cnt are the group's own
    aggregates. Integer cents keep every sum exact.

    NULL values are filtered EXPLICITLY on both sides (review finding:
    the join-back is null-unsafe — null != null — so a NULL value row
    would silently vanish from the rewrite while the oracle emitted it
    with NULL sums; the fixture has no NULL values, but the mirrored
    WHERE makes the semantics identical by construction, not by
    fixture luck)."""
    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias(
                "value_cents"
            ),
        )
    )
    g = e.groupBy("event_type", "value_cents").agg(
        F.sum("value_cents").alias("peer_sum"),
        F.count(F.lit(1)).alias("peer_cnt"),
    )
    zero = F.lit(0).cast("bigint")
    base = g.select(
        "event_type",
        F.col("value_cents").alias("pos"),
        F.lit(None).cast("bigint").alias("src"),
        F.lit(0).alias("kind"),
        F.col("peer_sum").alias("s"),
        F.col("peer_cnt").alias("c"),
    )
    hi = g.select(
        "event_type",
        (F.col("value_cents") + _RANGE_CENTS).alias("pos"),
        F.col("value_cents").alias("src"),
        F.lit(1).alias("kind"),
        zero.alias("s"),
        zero.alias("c"),
    )
    lo = g.select(
        "event_type",
        (F.col("value_cents") - _RANGE_CENTS - 1).alias("pos"),
        F.col("value_cents").alias("src"),
        F.lit(-1).alias("kind"),
        zero.alias("s"),
        zero.alias("c"),
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("pos")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    u = base.unionByName(hi).unionByName(lo).select(
        "src",
        "kind",
        "event_type",
        F.sum("s").over(cum_w).alias("cum_s"),
        F.sum("c").over(cum_w).alias("cum_c"),
    )
    # frame total/cnt per group: cum(hi) − cum(lo), folded via kind ±1
    bounds = (
        u.filter(F.col("kind") != 0)
        .groupBy("event_type", "src")
        .agg(
            F.sum(F.col("kind") * F.col("cum_s")).alias("total"),
            F.sum(F.col("kind") * F.col("cum_c")).alias("cnt"),
        )
        .withColumnRenamed("src", "value_cents")
    )
    g = g.join(bounds, ["event_type", "value_cents"])
    v = F.col("value_cents")
    return (
        e.join(g, ["event_type", "value_cents"])
        .select(
            "event_id",
            "event_type",
            "value_cents",
            F.when(F.col("cnt") > 1, F.col("total") - v)
            .cast("bigint")
            .alias("excl_current_sum"),
            (F.col("total") - F.col("peer_sum") + v)
            .cast("bigint")
            .alias("excl_ties_sum"),
            F.when(
                F.col("cnt") > F.col("peer_cnt"),
                F.col("total") - F.col("peer_sum"),
            )
            .cast("bigint")
            .alias("excl_group_sum"),
        )
        .orderBy("event_id")
    )


# SURVEY.md §2.5 window parity closer: the SQL:2011 GROUPS frame mode —
# the last of the standard window frame features Spark's parser lacks
# (QUALIFY, DISTINCT ON and frame EXCLUDE landed in batches 67–69).
# ``GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING`` frames by PEER GROUPS
# of the ORDER BY value (current group ± one whole neighboring group,
# however many rows each holds).
#
# Neither engine parses GROUPS (DuckDB 1.0: "not implemented yet"), so
# BOTH sides run the canonical two-phase rewrite — which is also the
# 100 TB-correct shape (same reasoning as q_window_exclude's fix):
# collapse rows to (partition, order-value) GROUP grain, run a plain
# ROWS frame over the group rows (1 group-row = 1 peer group, so ROWS
# ±1 over groups IS GROUPS ±1 over rows), and join rows back on the
# group key. The window input is bounded by the value DOMAIN, not the
# row count, and integer-cents sums make the twin hash-exact.
#
# Because the DuckDB oracle executes the IDENTICAL rewrite (neither
# engine parses GROUPS), the driver hash gate verifies cross-engine
# arithmetic of the rewrite, not SQL:2011 GROUPS semantics themselves —
# round-9 advisor item. The semantics are therefore pinned
# independently: ``tests/test_extras84_witnesses.py::
# test_groups_frame_hand_computed`` runs ``groups_frame_rewrite`` (the
# exact code the registered query calls) on a tiny fixture against
# HAND-computed GROUPS ±1 expectations from the SQL:2011 definition.


def groups_frame_rewrite(e, part_col: str, order_col: str):
    """The GROUPS-mode rewrite itself, factored so the hand-computed
    fixture test exercises the SAME code as the registered query.

    Input: rows with at least (part_col, order_col) where order_col is
    an exact integer (the value being both ordered and summed). Output:
    input rows plus ``groups_sum_cents`` / ``rows_in_frame`` computed
    under ``GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING`` semantics —
    via group-grain collapse, ROWS ±1 over group rows, join-back."""
    g = e.groupBy(part_col, order_col).agg(
        F.sum(order_col).alias("peer_sum"),
        F.count(F.lit(1)).alias("peer_cnt"),
    )
    frame = (
        Window.partitionBy(part_col).orderBy(order_col).rowsBetween(-1, 1)
    )
    gf = g.select(
        part_col,
        order_col,
        F.sum("peer_sum").over(frame).cast("bigint").alias(
            "groups_sum_cents"
        ),
        F.sum("peer_cnt").over(frame).cast("bigint").alias(
            "rows_in_frame"
        ),
    )
    return e.join(gf, [part_col, order_col])


def groups_exclude_frame(e, part_col: str, order_col: str):
    """GROUPS ±1 frame COMPOSED with EXCLUDE GROUP / EXCLUDE TIES
    (batch-72 ``q_window_groups_exclude``; fixture-tested alongside
    :func:`groups_frame_rewrite`). Same group-grain collapse and ROWS
    ±1 window; the exclusions are closed-form arithmetic on the
    group's own aggregates:

      excl_group_sum = groups_sum − peer_sum   (NULL when the frame is
                        exactly the peer group — row-count guard, not a
                        sum guard, since sums can collide)
      excl_ties_sum  = groups_sum − peer_sum + value  (current row kept)
    """
    g = e.groupBy(part_col, order_col).agg(
        F.sum(order_col).alias("peer_sum"),
        F.count(F.lit(1)).alias("peer_cnt"),
    )
    frame = (
        Window.partitionBy(part_col).orderBy(order_col).rowsBetween(-1, 1)
    )
    gf = g.select(
        part_col,
        order_col,
        "peer_sum",
        "peer_cnt",
        F.sum("peer_sum").over(frame).cast("bigint").alias("groups_sum"),
        F.sum("peer_cnt").over(frame).cast("bigint").alias("groups_cnt"),
    )
    return e.join(gf, [part_col, order_col]).select(
        e["*"],
        F.when(
            F.col("groups_cnt") > F.col("peer_cnt"),
            F.col("groups_sum") - F.col("peer_sum"),
        ).alias("excl_group_sum"),
        (F.col("groups_sum") - F.col("peer_sum") + F.col(order_col))
        .cast("bigint")
        .alias("excl_ties_sum"),
    )


@query(
    "q_window_groups_mode",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      FROM events
      WHERE value IS NOT NULL
    ), g AS (
      SELECT event_type, value_cents,
             CAST(SUM(value_cents) AS BIGINT) AS peer_sum,
             CAST(COUNT(*) AS BIGINT) AS peer_cnt
      FROM v GROUP BY event_type, value_cents
    ), gf AS (
      SELECT event_type, value_cents,
             CAST(SUM(peer_sum) OVER (
                  PARTITION BY event_type ORDER BY value_cents
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                  AS BIGINT) AS groups_sum_cents,
             CAST(SUM(peer_cnt) OVER (
                  PARTITION BY event_type ORDER BY value_cents
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                  AS BIGINT) AS rows_in_frame
      FROM g
    )
    SELECT v.event_id, v.event_type, v.value_cents,
           gf.groups_sum_cents, gf.rows_in_frame
    FROM v JOIN gf
      ON v.event_type = gf.event_type
     AND v.value_cents = gf.value_cents
    ORDER BY v.event_id
    """,
)
def q_window_groups_mode(spark, sf_dir):
    """SQL:2011 GROUPS frame mode — per event, the sum (and row count)
    of its peer group ± one neighboring peer group of the value
    ordering. Spark has no GROUPS frames, so this is the canonical
    group-grain rewrite: one group-row per distinct (type, value), a
    plain ROWS ±1 frame over group rows (exactly GROUPS ±1 over the
    original rows), rows joined back on the group key. Same two-phase
    shape that fixed q_window_exclude — the window input is bounded by
    the value domain at any corpus size, and Spark's no-retraction
    sliding frames never see a dense row-grain buffer. NULL values are
    filtered explicitly on both sides (the join-back is null-unsafe).
    Integer cents throughout — hash-exact."""
    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias(
                "value_cents"
            ),
        )
    )
    return (
        groups_frame_rewrite(e, "event_type", "value_cents")
        .select(
            "event_id",
            "event_type",
            "value_cents",
            "groups_sum_cents",
            "rows_in_frame",
        )
        .orderBy("event_id")
    )


# (round-9 verdict task #7 — surface-parity closers, next tranche):
# three Postgres-surface features the reference's delegated SQL engine
# executes (`APP/services/pgliteService.ts:36-49`) that had no
# registered key:
#
# - **q_window_agg_filter** — FILTER on a *window* aggregate
#   (``SUM(x) FILTER (WHERE …) OVER w``). Spark's parser rejects FILTER
#   on window functions, so the engine side is the canonical
#   CASE-with-no-ELSE rewrite (``SUM(CASE WHEN cond THEN x END) OVER w``
#   — the missing ELSE matters: FILTER over zero matching rows yields
#   NULL, and so does SUM over all-NULL, where ``ELSE 0`` would wrongly
#   yield 0). DuckDB executes the NATIVE ``FILTER (WHERE …) OVER``
#   clause, so the hash gate proves the rewrite against real FILTER
#   semantics, not against itself.
# - **q_unnest_ordinality** — ``UNNEST … WITH ORDINALITY`` (Postgres's
#   positional lateral unnest). Spark's native ordinality surface is
#   ``posexplode``; DuckDB lacks WITH ORDINALITY (1.0: "not
#   implemented"), so the oracle derives ordinals independently via the
#   GENERATE_SERIES index idiom — two independent formulations, one
#   semantics.
# - **q_window_groups_exclude** — SQL:2011 GROUPS frame mode COMPOSED
#   with frame EXCLUDE (GROUP / TIES). The batch-69/71 rewrites compose
#   in closed form at group grain: with a GROUPS ±1 frame the exclusion
#   arithmetic is ``excl_group = groups_sum − peer_sum`` (NULL when the
#   frame holds only the current group — the standard's empty-frame
#   NULL) and ``excl_ties = groups_sum − peer_sum + value`` (current row
#   always kept, never empty). Neither engine parses GROUPS, so the
#   oracle replays the same arithmetic (rewrite-twin — annotated, same
#   caveat as q_window_groups_mode) and the SEMANTICS are pinned by the
#   hand-computed fixture in
#   tests/test_extras84_witnesses.py::test_groups_exclude_hand_computed.
#
# Exactness: money in ROUND(x*100) BIGINT cents; ordinals are BIGINT;
# every window carries a unique tie-break key.


@query(
    "q_window_agg_filter",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F') OVER w AS BIGINT)
             AS fulfilled_run_cents,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') OVER w
                AS BIGINT) AS fulfilled_run_cnt
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_agg_filter(spark, sf_dir):
    """FILTER clause on window aggregates — per customer, the running
    total and count of FULFILLED ('F') orders alongside every order.
    Spark has no window-FILTER syntax, so the engine runs the canonical
    rewrite: ``SUM(CASE WHEN cond THEN x END)`` with NO else branch —
    sum over all-NULL is NULL, exactly FILTER's empty-set result
    (``ELSE 0`` would diverge on customers whose prefix has no 'F'
    order yet). COUNT's faithful twin counts the CONDITION, not the
    summed value — ``COUNT(CASE WHEN cond THEN price END)`` would skip
    a matching row whose price is NULL while ``COUNT(*) FILTER`` counts
    it (review finding; latent on TPC-H's NOT-NULL totalprice, but the
    rewrite must be right in general). The oracle is DuckDB's NATIVE
    ``FILTER (WHERE …) OVER``, so equality proves the rewrite against
    genuine FILTER semantics. Plan: one scan, ONE shuffle on o_custkey shared by both
    windows (same partition+order), running frames are the cheap
    no-retraction kind; per-customer partitions are many and small —
    the shape that scales flat."""
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
        "o_orderstatus",
        "o_orderdate",
    )
    fulfilled = F.when(
        F.col("o_orderstatus") == "F", F.col("price_cents")
    )  # no otherwise(): NULL, so an all-miss prefix sums to NULL like FILTER
    return o.select(
        "o_custkey",
        "o_orderkey",
        "price_cents",
        F.sum(fulfilled).over(w).cast("bigint").alias(
            "fulfilled_run_cents"
        ),
        F.count(F.when(F.col("o_orderstatus") == "F", F.lit(True)))
        .over(w)
        .cast("bigint")
        .alias("fulfilled_run_cnt"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q_window_groups_exclude",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      FROM events
      WHERE value IS NOT NULL
    ), g AS (
      SELECT event_type, value_cents,
             CAST(SUM(value_cents) AS BIGINT) AS peer_sum,
             CAST(COUNT(*) AS BIGINT) AS peer_cnt
      FROM v GROUP BY event_type, value_cents
    ), gf AS (
      SELECT event_type, value_cents, peer_sum, peer_cnt,
             CAST(SUM(peer_sum) OVER w AS BIGINT) AS groups_sum,
             CAST(SUM(peer_cnt) OVER w AS BIGINT) AS groups_cnt
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY value_cents
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
    )
    SELECT v.event_id, v.event_type, v.value_cents,
           CASE WHEN gf.groups_cnt > gf.peer_cnt
                THEN gf.groups_sum - gf.peer_sum END AS excl_group_sum,
           CAST(gf.groups_sum - gf.peer_sum + v.value_cents AS BIGINT)
             AS excl_ties_sum
    FROM v JOIN gf
      ON v.event_type = gf.event_type
     AND v.value_cents = gf.value_cents
    ORDER BY v.event_id
    """,
)
def q_window_groups_exclude(spark, sf_dir):
    """GROUPS frame mode composed with frame EXCLUDE — per event, the
    sum of the GROUPS ±1 neighborhood excluding its own peer group
    (EXCLUDE GROUP) and excluding its ties but keeping itself (EXCLUDE
    TIES). The two batch-69/71 rewrites compose in closed form at group
    grain, with no extra window: ``excl_group = groups_sum − peer_sum``
    (NULL when the neighborhood IS the peer group — the standard's
    empty-frame rule, guarded by comparing row counts, not sums, since
    negative cents can collide on sums) and ``excl_ties = groups_sum −
    peer_sum + value`` (never empty: the current row survives TIES
    exclusion). Neither engine parses GROUPS, so the oracle replays the
    identical arithmetic (rewrite-twin — the hash gate proves
    cross-engine arithmetic); the SEMANTICS of the composition are
    pinned by a hand-computed fixture test. Plan: the q_window_exclude
    two-phase shape — window input bounded by the value DOMAIN, one
    join-back on the group key; NULL values filtered explicitly on
    both sides (null-unsafe join-back)."""
    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias(
                "value_cents"
            ),
        )
    )
    return (
        groups_exclude_frame(e, "event_type", "value_cents")
        .select(
            "event_id",
            "event_type",
            "value_cents",
            "excl_group_sum",
            "excl_ties_sum",
        )
        .orderBy("event_id")
    )


# SURVEY.md §2.5 / §2.11: two closers —
#
# - ``q_window_range_interval``: RANGE frame bounded by a TIME interval
#   (``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`` over a
#   timestamp order key) — the standard-SQL window shape the numeric
#   RANGE keys (q_window_range_frame) don't cover; both engines parse
#   the same text natively. (A ``regr_*`` aggregate key was drafted for
#   this batch and DROPPED pre-commit: q_regr_slope (stats.py)
#   already hash-verifies grouped OLS slope/intercept/R² on the same
#   columns — a second formulation would be padding, not surface.)
# - ``q_semdedup``: SemDeDup-style SEMANTIC dedup over the embedding
#   corpus (Abbas et al. 2023, arXiv:2303.09540 — public method):
#   k-means-assign each vector to a coarse cluster, compute pairwise
#   cosine ONLY within clusters, drop any vector with a lower-id
#   neighbor at cosine ≥ τ and report which representative it
#   duplicates. The cluster prefilter is what makes semantic dedup
#   feasible at 100 TB: pair work is bounded by cluster size (K grows
#   with n to keep clusters bounded), never O(n²) over the corpus —
#   contrast q_dedup_embedding, which blocks on a GIVEN label column.
#
# Reference parity: the dedup/profiling surface of
# `automated-data-catalog-&-etl/services/geminiService.ts` (the catalog
# app delegates table analysis to an engine; these are engine-side).


# Same text in both engines: Spark and DuckDB both parse the interval
# RANGE frame natively (no rewrite — the point of the key).
_RANGE_INTERVAL_SQL = """
SELECT event_id, user_id,
       {ts_fmt} AS ts_s,
       COUNT(*) OVER w AS n_1h,
       -- DECIMAL(18,2): |value| < 10^16 provably fits, where (12,2)
       -- would silently NULL >= 10^10 in Spark's non-ANSI cast while
       -- DuckDB raised — a latent cross-engine divergence if fixture
       -- value ranges grow (round-11 advisor item)
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
FROM {table}
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@query(
    "q_window_range_interval",
    oracle=_RANGE_INTERVAL_SQL.format(
        ts_fmt="STRFTIME(ts, '%Y-%m-%d %H:%M:%S')", table="events"
    ),
)
def q_window_range_interval(spark, sf_dir):
    """Time-interval RANGE frame: per user, the trailing-1-hour event
    count and exact-decimal value sum at every event (the rolling-
    window primitive behind rate limits, trailing spend, and feature
    windows). RANGE peers (equal timestamps) enter the frame together
    in both engines — SQL:2011 semantics, not ROWS. The decimal SUM
    keeps the frame aggregation bit-reproducible regardless of
    intra-frame order; COUNT is exact by nature.

    Scale shape: one hash exchange on user_id + per-partition sort —
    identical to any other window key; the frame is evaluated by a
    running multiset over the sorted run (Spark's unbounded-preceding
    sliding frame machinery), no per-row rescan."""
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_ri")
    return spark.sql(
        _RANGE_INTERVAL_SQL.format(
            ts_fmt="date_format(ts, 'yyyy-MM-dd HH:mm:ss')",
            table="__ev_ri",
        )
    )
