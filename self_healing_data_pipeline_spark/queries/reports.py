"""Business reports over the order book (SURVEY.md §2.4, §2.9).

RFM and cohort value, supplier scorecards, revenue and price-volume
bridges, growth accounting, ABC and Pareto classes, aging, backlog,
inventory, shipping SLAs and the bullwhip ratio.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.functions.scalar import dec
from self_healing_data_pipeline_spark.queries.stats import _BAND_SHIFT
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_customer_rfm",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, frequency, monetary_cents,
             NTILE(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
             NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
      FROM base
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q_customer_rfm(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary quartiles) —
    the classic customer-value grid, reported as segment sizes + exact
    value mass per cell. The oracle states the spec as three NTILE
    windows with a unique custkey tie-break; the Spark plan is the
    warehouse form — EXACT quartile CUT POINTS computed once and
    broadcast into a narrow comparison, no global sort or window
    anywhere (tests/test_scale_shapes.py asserts no SinglePartition):

    1. one per-customer aggregate (monetary in exact summed cents);
    2. per dimension, bucket values into ~1000 deterministic value
       ranges (min/max collected once — 1 row) and aggregate per-bucket
       counts (ONE job for all three dimensions via a 3-way explode;
       ≤3×1001 rows collected — bounded by the bucket constant);
    3. driver-side, walk the cumulative bucket counts to locate the
       bucket + local rank of each NTILE boundary (B_t = t·q + min(t,r),
       the exact tile edges), then ONE windowed job over just the
       boundary buckets (window partitions by (dim, bucket); each input
       is a ~1/1000 value slice) joined to the ≤9-row (dim, bucket,
       rank) candidate table extracts the boundary (value, custkey)
       composites;
    4. the final pass scores every customer by three broadcast composite
       comparisons — score = 1 + Σ_t [(v, custkey) > cut_t], which
       reproduces NTILE exactly because the custkey tie-break makes the
       order total — then rolls up the 64-cell grid.

    Ties concentrate mass in one bucket only for the frequency
    dimension (small-integer domain); its boundary-bucket window is
    bounded by the tie mass of one value — the irreducible cost of an
    exact tie-broken quantile."""
    o = read_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    # the three cut-point build jobs (stats, bucket counts, boundary
    # extraction) each re-derive the per-customer aggregate; cache it
    # for their duration and release before returning — the returned
    # plan recomputes base once, holding no executor memory afterwards
    base = base.cache()
    vals = {
        "r": F.datediff(F.col("last_order"), F.lit("1970-01-01").cast("date"))
        .cast("long"),
        "f": F.col("frequency").cast("long"),
        "m": F.col("monetary_cents"),
    }
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            a
            for dim, v in vals.items()
            for a in (
                F.min(v).alias(f"lo_{dim}"),
                F.max(v).alias(f"hi_{dim}"),
            )
        ],
    ).collect()[0]
    n = stats["n"]
    cuts = {dim: [] for dim in vals}  # dim -> [(value, custkey) or None]
    edges: list[int] = []
    if n > 0:
        widths = {
            dim: max(1, (stats[f"hi_{dim}"] - stats[f"lo_{dim}"]) // 1000 + 1)
            for dim in vals
        }
        buckets = {
            dim: F.floor((v - F.lit(stats[f"lo_{dim}"])) / F.lit(widths[dim]))
            for dim, v in vals.items()
        }
        tagged = base.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(dim).alias("dim"),
                            v.alias("v"),
                            buckets[dim].alias("b"),
                            F.col("o_custkey").alias("ck"),
                        )
                        for dim, v in vals.items()
                    ]
                )
            ).alias("x")
        ).select("x.*")
        bcounts: dict[str, dict[int, int]] = {dim: {} for dim in vals}
        for r in tagged.groupBy("dim", "b").count().collect():
            bcounts[r["dim"]][r["b"]] = r["count"]
        # NTILE(4) tile edges: B_t = t*q + min(t, r)
        q4, r4 = divmod(n, 4)
        edges = [t * q4 + min(t, r4) for t in (1, 2, 3)]
        # locate each edge's bucket + local rank from cumulative counts
        cand = []  # (dim, bucket, local_rank, tile_idx)
        for dim in vals:
            cum = 0
            want = [(t, e) for t, e in enumerate(edges) if 1 <= e <= n]
            wi = 0
            for b in sorted(bcounts[dim]):
                c = bcounts[dim][b]
                while wi < len(want) and want[wi][1] <= cum + c:
                    cand.append((dim, int(b), want[wi][1] - cum, want[wi][0]))
                    wi += 1
                cum += c
        cand_df = spark.createDataFrame(
            cand or [("_", 0, 0, 0)],
            "dim string, b long, rn long, tile int",
        )
        wrank = Window.partitionBy("dim", "b").orderBy("v", "ck")
        bpairs = {(dim, b) for dim, b, _, _ in cand}
        boundary = (
            tagged.filter(
                F.concat_ws("|", "dim", "b").isin(
                    [f"{dim}|{b}" for dim, b in bpairs] or ["_"]
                )
            )
            .withColumn("rn", F.row_number().over(wrank))
            .join(F.broadcast(cand_df), ["dim", "b", "rn"])
            .select("dim", "tile", "v", "ck")
            .collect()
        )
        for r in boundary:
            while len(cuts[r["dim"]]) <= r["tile"]:
                cuts[r["dim"]].append(None)
            cuts[r["dim"]][r["tile"]] = (r["v"], r["ck"])
    base.unpersist(blocking=False)  # build jobs done; nothing lingers

    def score(dim):
        # 1 + Σ_t [composite rank > B_t]; a missing cut for edge e means
        # e == 0 (empty leading tiles: every rank exceeds it) — edges
        # with e == n never match "greater than", needing no term only
        # if absent, but e <= n-1 for any tile that can shift a score
        s = F.lit(1)
        dim_cuts = cuts[dim]
        for t, e in enumerate(edges):
            cut = dim_cuts[t] if t < len(dim_cuts) else None
            if cut is None:
                if e == 0:
                    s = s + F.lit(1)
                # e == n with no cut row cannot happen (rank n exists);
                # e > n is impossible (B_t <= n)
                continue
            cv, ck = cut
            v = vals[dim]
            s = s + F.when(
                (v > F.lit(cv))
                | ((v == F.lit(cv)) & (F.col("o_custkey") > F.lit(ck))),
                1,
            ).otherwise(0)
        return s

    scored = base.select(
        "o_custkey",
        "monetary_cents",
        score("r").alias("r_score"),
        score("f").alias("f_score"),
        score("m").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "q_period_growth",
    oracle="""
    WITH monthly AS (
      SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue_cents, n_orders,
           LAG(revenue_cents) OVER (ORDER BY month) AS prev_cents,
           CASE WHEN LAG(revenue_cents) OVER (ORDER BY month) IS NULL
                THEN NULL
                ELSE (revenue_cents - LAG(revenue_cents) OVER (ORDER BY month))
                     / CAST(LAG(revenue_cents) OVER (ORDER BY month) AS DOUBLE)
           END AS mom_growth
    FROM monthly ORDER BY month
    """,
)
def q_period_growth(spark, sf_dir):
    """Month-over-month revenue growth — the period-over-period BI
    staple. Revenue in exact summed cents (no float-sum ordering), one
    LAG window over the per-MONTH aggregate (input bounded by the
    calendar, not the data), growth as a single IEEE division of exact
    longs. The month aggregate is the only table read."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return (
        monthly.select(
            "month",
            "revenue_cents",
            "n_orders",
            prev.alias("prev_cents"),
            F.when(prev.isNull(), F.lit(None).cast("double"))
            .otherwise(
                (F.col("revenue_cents") - prev) / prev.cast("double")
            )
            .alias("mom_growth"),
        )
        .orderBy("month")
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR)) AS cohort
      FROM orders GROUP BY o_custkey
    ), laid AS (
      SELECT f.cohort,
             (CAST(SUBSTR(m.month, 1, 4) AS BIGINT) * 12
              + CAST(SUBSTR(m.month, 6, 2) AS BIGINT))
             - (CAST(SUBSTR(f.cohort, 1, 4) AS BIGINT) * 12
                + CAST(SUBSTR(f.cohort, 6, 2) AS BIGINT)) AS month_age,
             m.cents
      FROM (SELECT o_custkey,
                   CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders) m
      JOIN firsts f ON m.o_custkey = f.o_custkey
    )
    SELECT cohort, month_age,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_orders,
           CAST(SUM(SUM(cents)) OVER (PARTITION BY cohort ORDER BY month_age
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_revenue_cents
    FROM laid GROUP BY cohort, month_age
    ORDER BY cohort, month_age
    """,
)
def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue laid out by months-since-acquisition, with the
    running cumulative LTV per cohort — the retention-economics view
    every subscription/commerce dashboard carries. One per-customer
    first-order aggregate (broadcast back onto orders), month age as
    exact integer month arithmetic, revenue in exact cents, and the
    cumulative sum windows over the cohort×age GRID (~months², bounded
    by the calendar) partitioned by cohort."""
    o = read_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    firsts = o.groupBy("o_custkey").agg(F.min(month).alias("cohort"))
    mnum = lambda c: (  # noqa: E731 - local month-number helper
        F.substring(c, 1, 4).cast("long") * 12
        + F.substring(c, 6, 2).cast("long")
    )
    laid = (
        o.select(
            "o_custkey",
            month.alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(firsts, "o_custkey")
        .select(
            "cohort",
            (mnum(F.col("month")) - mnum(F.col("cohort"))).alias("month_age"),
            "cents",
        )
    )
    grid = laid.groupBy("cohort", "month_age").agg(
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.withColumn(
            "cum_revenue_cents",
            F.sum("revenue_cents").over(w).cast("long"),
        )
        .orderBy("cohort", "month_age")
    )


@query(
    "q_orders_backlog",
    oracle="""
    WITH monthly AS (
      SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
             COUNT(*) AS n_opened,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_finished AS BIGINT) AS n_finished,
           CAST(SUM(n_opened - n_finished) OVER (ORDER BY month
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_backlog
    FROM monthly ORDER BY month
    """,
)
def q_orders_backlog(spark, sf_dir):
    """Open-order backlog over time: per month, orders opened vs
    finished and the running balance of still-open orders — the
    operational-health curve behind fulfillment dashboards (TPC-H has
    no close date, so 'finished' is status F attributed to the opening
    month; the shape — paired counters + running balance — is the
    general backlog recipe). The running sum windows over per-MONTH
    rows: input bounded by the calendar regardless of order volume
    (the ``q_period_growth`` discipline; the single-partition pass
    touches ~100 rows, constant in data size)."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_opened"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return (
        monthly.select(
            "month",
            F.col("n_opened").cast("bigint").alias("n_opened"),
            F.col("n_finished").cast("bigint").alias("n_finished"),
            F.sum(F.col("n_opened") - F.col("n_finished"))
            .over(w)
            .cast("bigint")
            .alias("open_backlog"),
        )
        .orderBy("month")
    )


# SURVEY.md §2.9/§2.11: reporting closers — the accounts-receivable
# AGING report (open orders bucketed by age at the corpus cutoff) and
# the dedup CLUSTER-SIZE histogram (the one-line answer to "how
# duplicated is this corpus?").
#
# Both are counted-grain aggregates with exact integer masses; the aging
# cutoff is a broadcast 1-row scalar (column-pruned second scan, the
# q_feature_scale stats-pass shape).


@query(
    "q_orders_aging",
    oracle="""
    WITH cutoff AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS c FROM orders
    ), aged AS (
      SELECT CASE
               WHEN (SELECT c FROM cutoff) - CAST(o_orderdate AS DATE) <= 30
                 THEN '0-30'
               WHEN (SELECT c FROM cutoff) - CAST(o_orderdate AS DATE) <= 60
                 THEN '31-60'
               WHEN (SELECT c FROM cutoff) - CAST(o_orderdate AS DATE) <= 90
                 THEN '61-90'
               ELSE '90+' END AS age_bucket,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS open_cents
    FROM aged GROUP BY age_bucket ORDER BY age_bucket
    """,
)
def q_orders_aging(spark, sf_dir):
    """Accounts-receivable AGING: open orders bucketed by days
    outstanding at the corpus cutoff (the latest order date), with
    exact open cents per bucket — the finance-ops staple next to the
    monthly backlog report.

    Plan: the cutoff is a 1-row broadcast scalar (column-pruned date
    scan); the aging pass is one filtered scan with map-side partial
    aggregation into the fixed 4-bucket grid. Day arithmetic is exact
    integer datediff; money is exact cents."""
    o = read_table(spark, sf_dir, "orders")
    cutoff = o.agg(F.max("o_orderdate").alias("c"))
    aged = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(cutoff))
        .select(
            F.when(F.datediff("c", "o_orderdate") <= 30, F.lit("0-30"))
            .when(F.datediff("c", "o_orderdate") <= 60, F.lit("31-60"))
            .when(F.datediff("c", "o_orderdate") <= 90, F.lit("61-90"))
            .otherwise(F.lit("90+"))
            .alias("age_bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    return (
        aged.groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("open_cents"),
        )
        .orderBy("age_bucket")
    )


# SURVEY.md §2.9: operational reporting closers — the supplier SCORECARD
# (multi-metric vendor report), SEASONALLY-ADJUSTED anomaly days (the
# composition of q_dow_seasonality's index with outlier flagging), and
# the REVENUE BRIDGE (period-over-period growth decomposed into new /
# churned / expansion / contraction customer classes — the first slide
# of every revenue review).
#
# Determinism: money is exact cents / exact DECIMAL(12,2) revenue
# products; every anomaly decision is an INTEGER cross-multiplied
# comparison (no division decides membership); divisions appear only in
# output columns in mirrored operand order; weekday numbering mirrors
# the Spark 1-based convention (DuckDB DAYOFWEEK + 1).


@query(
    "q_supplier_scorecard",
    oracle="""
    WITH per AS (
      SELECT l.l_suppkey AS suppkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(12,2))
                         - CAST(l.l_discount AS DECIMAL(12,2))))
                  AS DOUBLE) AS revenue,
             CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returned,
             CAST(SUM(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE))) AS BIGINT)
               AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    )
    SELECT p.suppkey, s.s_name, p.n_lines, p.revenue,
           CAST(p.n_returned AS DOUBLE) / CAST(p.n_lines AS DOUBLE)
             AS return_rate,
           CAST(p.lag_days AS DOUBLE) / CAST(p.n_lines AS DOUBLE)
             AS avg_ship_lag_days
    FROM per p JOIN supplier s ON p.suppkey = s.s_suppkey
    ORDER BY p.revenue DESC, p.suppkey LIMIT 10
    """,
)
def q_supplier_scorecard(spark, sf_dir):
    """Supplier SCORECARD: per vendor — line volume, exact-decimal
    revenue, return rate, and average order→ship lag — the multi-metric
    procurement report (one row per supplier, top-10 by revenue).

    Scale shape: ONE fact-fact equi-join (lineitem ⋈ orders on
    orderkey — both shuffle on the key; on a bucketed layout this join
    is shuffle-free, `sources/writers.py`), collapsed map-side-partial
    to supplier grain BEFORE the tiny supplier dim joins (broadcast).
    Ratios divide once per supplier row in mirrored operand order;
    ship lag is exact integer day arithmetic (negative lags in this
    synthetic fixture are kept as-is — the report reports, it doesn't
    clean). Top-10 is TakeOrderedAndProject."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = read_table(spark, sf_dir, "supplier")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_returned"),
            F.sum(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("bigint")
            .alias("lag_days"),
        )
    )
    return (
        per.join(s, per.suppkey == s.s_suppkey)
        .select(
            "suppkey",
            "s_name",
            "n_lines",
            "revenue",
            (F.col("n_returned").cast("double") / F.col("n_lines").cast("double"))
            .alias("return_rate"),
            (F.col("lag_days").cast("double") / F.col("n_lines").cast("double"))
            .alias("avg_ship_lag_days"),
        )
        .orderBy(F.col("revenue").desc(), "suppkey")
        .limit(10)
    )


@query(
    "q_revenue_bridge",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1999
                      THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS cents_p1,
             CAST(SUM(CASE WHEN YEAR(o_orderdate) = 2000
                      THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS cents_p2
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
      GROUP BY 1
    )
    SELECT CASE WHEN cents_p1 = 0 THEN 'new'
                WHEN cents_p2 = 0 THEN 'churned'
                WHEN cents_p2 > cents_p1 THEN 'expansion'
                ELSE 'contraction' END AS class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents_p1) AS BIGINT) AS cents_p1,
           CAST(SUM(cents_p2) AS BIGINT) AS cents_p2,
           CAST(SUM(cents_p2 - cents_p1) AS BIGINT) AS delta_cents
    FROM per_cust GROUP BY 1 ORDER BY class
    """,
)
def q_revenue_bridge(spark, sf_dir):
    """REVENUE BRIDGE 1999→2000: the year-over-year revenue delta
    decomposed into NEW, CHURNED, EXPANSION, and CONTRACTION customer
    classes (delta_cents sums across classes to exactly the total YoY
    move — the waterfall every revenue review opens with).

    Scale shape: ONE scan with the two-year filter expressed as a
    TIMESTAMP RANGE so it reaches the parquet scan as a pushed filter
    (``year(col)`` would not push; a range predicate does), ONE
    customer-grain shuffle with both periods as conditional partial
    aggregates (no self-join of the two years, no second scan), then a
    bounded 4-row class rollup. Classification is exact integer-cents
    comparison; ties (equal nonzero revenue) land in 'contraction' on
    both engines by the shared CASE order."""
    o = read_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == 1999, cents).otherwise(0))
            .cast("bigint")
            .alias("cents_p1"),
            F.sum(F.when(yr == 2000, cents).otherwise(0))
            .cast("bigint")
            .alias("cents_p2"),
        )
    )
    cls = (
        F.when(F.col("cents_p1") == 0, F.lit("new"))
        .when(F.col("cents_p2") == 0, F.lit("churned"))
        .when(F.col("cents_p2") > F.col("cents_p1"), F.lit("expansion"))
        .otherwise(F.lit("contraction"))
    )
    return (
        per_cust.groupBy(cls.alias("class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents_p1").cast("bigint").alias("cents_p1"),
            F.sum("cents_p2").cast("bigint").alias("cents_p2"),
            F.sum(F.col("cents_p2") - F.col("cents_p1"))
            .cast("bigint")
            .alias("delta_cents"),
        )
        .orderBy("class")
    )


_SLA_DAYS = (30, 60, 90)


@query(
    "q_ship_sla",
    oracle=f"""
    WITH j AS (
      SELECT o.o_orderpriority AS priority,
             DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {", ".join(
               f"CAST(SUM(CASE WHEN lag_days <= {d} THEN 1 ELSE 0 END)"
               f" * 1000000 // COUNT(*) AS BIGINT) AS within_{d}d_ppm"
               for d in _SLA_DAYS
           )}
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def q_ship_sla(spark, sf_dir):
    """SHIP-SLA ATTAINMENT: per order priority, the exact-ppm fraction
    of lines shipped within 30/60/90 days of the order date — the
    fulfillment scorecard every ops review reads next to
    q_supplier_scorecard's vendor lags and q_orders_backlog's open
    balance.

    Scale shape: one fact⋈fact equi-join on the order key (bucketed
    layouts make it shuffle-free — q_join_bucketed's contract), lag in
    exact integer days, three conditional partial-aggregated counters
    in ONE pass (the q_dq_expectations one-scan discipline), ppm by
    integer floor division."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    n = F.count(F.lit(1)).cast("bigint")
    agg = j.groupBy("priority").agg(
        n.alias("n_lines"),
        *[
            F.sum(F.when(F.col("lag_days") <= d, 1).otherwise(0))
            .cast("bigint")
            .alias(f"hit_{d}")
            for d in _SLA_DAYS
        ],
    )
    cols = ["priority", "n_lines"]
    out = agg
    for d in _SLA_DAYS:
        scaled = F.col(f"hit_{d}") * F.lit(1000000)
        out = out.withColumn(
            f"within_{d}d_ppm",
            (
                (scaled - F.pmod(scaled, F.col("n_lines"))) / F.col("n_lines")
            ).cast("bigint"),
        )
        cols.append(f"within_{d}d_ppm")
    return out.select(*cols).orderBy("priority")


@query(
    "q_segment_migration",
    oracle="""
    WITH spend AS (
      SELECT YEAR(o_orderdate) AS yr, o_custkey AS ck,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE YEAR(o_orderdate) IN (1996, 1997)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT yr, ck, cents,
             ROW_NUMBER() OVER (PARTITION BY yr ORDER BY cents, ck) AS rn,
             COUNT(*) OVER (PARTITION BY yr) AS n
      FROM spend
    ), seg AS (
      SELECT yr, ck, 3 * (rn - 1) // n + 1 AS tercile FROM ranked
    )
    SELECT COALESCE(a.tercile, 0) AS seg_1996,
           COALESCE(b.tercile, 0) AS seg_1997,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (SELECT ck, tercile FROM seg WHERE yr = 1996) a
    FULL OUTER JOIN (SELECT ck, tercile FROM seg WHERE yr = 1997) b
      ON a.ck = b.ck
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_segment_migration(spark, sf_dir):
    """SEGMENT MIGRATION matrix: every customer's spend TERCILE in
    1996 vs 1997 (0 = absent that year), counted into the 4×4
    transition matrix — the churn/upgrade report behind CRM reviews
    (diagonal = stable, below = downgraded, 0-row/column =
    acquired/churned).

    Terciles are exact rank thirds (3·(rank−1)//n + 1, integer
    arithmetic, (cents, custkey) total order). The per-period rank
    does NOT use a per-period global window (2 periods would
    serialize at 100× — the r4-verdict class): it is the TWO-PHASE
    bucketed rank — spend megabuckets (cents >> 16) → per-(period,
    bucket) counts → cumulative offsets over the tiny bucket grain →
    narrow in-bucket rank + offset.

    Scale shape: customer-grain spend collapse (one keyed shuffle),
    two-phase rank (partitioned windows only), full-outer key join of
    two customer-grain frames, bounded 16-cell rollup. The offsets /
    totals broadcasts KEEP their hints: (yr, cents>>16) is a value-
    domain grain — 2 fixed years × a spend-bucket count that saturates
    because per-customer yearly spend does not grow with SF — audited
    in tools/broadcast_census.py::BOUNDED_BUILD with decade evidence."""
    o = read_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    spend = (
        o.filter(yr.isin(1996, 1997))
        .groupBy(yr.alias("yr"), F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    # Two-phase rank: bucket by spend high bits (order-preserving),
    # offsets = customers in lower buckets, rank = offset + in-bucket rn.
    bk = F.shiftright(F.col("cents"), 16)
    s2 = spend.withColumn("bk", bk)
    sub = s2.groupBy("yr", "bk").agg(F.count(F.lit(1)).alias("bn"))
    wprev = (
        Window.partitionBy("yr")
        .orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sub.select(
        "yr", "bk", F.coalesce(F.sum("bn").over(wprev), F.lit(0)).alias("off")
    )
    totals = spend.groupBy("yr").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    win = Window.partitionBy("yr", "bk").orderBy("cents", "ck")
    ranked = (
        s2.join(F.broadcast(offsets), ["yr", "bk"])
        .withColumn("rn", F.col("off") + F.row_number().over(win))
        .join(F.broadcast(totals), "yr")
    )
    num = 3 * (F.col("rn") - 1)
    tercile = ((num - F.pmod(num, F.col("n"))) / F.col("n")).cast(
        "bigint"
    ) + 1
    seg = ranked.select("yr", "ck", tercile.alias("tercile"))
    a = seg.filter(F.col("yr") == 1996).select(
        "ck", F.col("tercile").alias("t96")
    )
    b = seg.filter(F.col("yr") == 1997).select(
        "ck", F.col("tercile").alias("t97")
    )
    return (
        a.join(b, "ck", "full_outer")
        .groupBy(
            F.coalesce(F.col("t96"), F.lit(0)).cast("bigint").alias("seg_1996"),
            F.coalesce(F.col("t97"), F.lit(0)).cast("bigint").alias("seg_1997"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("seg_1996", "seg_1997")
    )


# SURVEY.md §2.5 windows / §2.9: INVENTORY-FLOOR running balance — the
# clamped recurrence stock = max(0, stock + δ) that a plain running sum
# cannot express — solved in CLOSED FORM via the Lindley reflection
# identity (W_n = S_n − min(0, min prefix S)), so the "sequential"
# operator becomes two partitioned windows; and an ACTIVITY HEATMAP
# (weekday × hour grid with exact-ppm shares), the ops-dashboard staple.
#
# The identity matters at 100 TB: the obvious implementation is a
# per-key sequential fold (mapInPandas — the q_ema shape, one float of
# Python state per key); the reflection form stays entirely in JVM
# window aggregates with no Python worker in the path.


@query(
    "q_inventory_floor",
    oracle="""
    WITH d AS (
      SELECT l_suppkey AS sk,
             CASE WHEN l_returnflag = 'R'
                  THEN CAST(ROUND(l_quantity) AS BIGINT)
                  ELSE -CAST(ROUND(l_quantity) AS BIGINT) END AS delta,
             l_shipdate AS o1, l_orderkey AS o2, l_linenumber AS o3
      FROM lineitem
    ), s AS (
      SELECT sk, delta, o1, o2, o3,
             SUM(delta) OVER (PARTITION BY sk ORDER BY o1, o2, o3, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS ps
      FROM d
    ), s2 AS (
      SELECT sk, delta, ps,
             MIN(ps) OVER (PARTITION BY sk ORDER BY o1, o2, o3, delta
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_min
      FROM s
    )
    SELECT sk AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(SUM(delta) AS BIGINT) AS net_delta,
           CAST(SUM(delta) - LEAST(CAST(0 AS BIGINT), MIN(ps)) AS BIGINT)
             AS final_stock,
           CAST(SUM(CASE WHEN ps < COALESCE(
                           LEAST(CAST(0 AS BIGINT), prev_min),
                           CAST(0 AS BIGINT))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamps
    FROM s2 GROUP BY sk ORDER BY sk
    """,
)
def q_inventory_floor(spark, sf_dir):
    """INVENTORY-FLOOR balance per supplier: receipts (+qty on
    returned lines) and issues (−qty) fold through the clamped
    recurrence stock = max(0, stock + δ) — which NO windowed running
    sum expresses directly. The LINDLEY REFLECTION identity solves it
    closed-form: W_n = S_n − min(0, min_k S_k), and a clamp fires at
    step i iff S_i < min(0, min_{k<i} S_k). Per supplier: moves, net
    delta, final floored stock, and how many times the floor bit.

    Plan: two per-supplier windows over exact integer prefix sums —
    entirely JVM-side, no sequential Python fold (the naive
    alternative), no SinglePartition. Bucketed-by-supplier layouts
    make the window exchange-free. Exact integers throughout; the
    (shipdate, orderkey, linenumber) order is total."""
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    d = li.select(
        F.col("l_suppkey").alias("sk"),
        F.when(F.col("l_returnflag") == "R", qty).otherwise(-qty).alias(
            "delta"
        ),
        F.col("l_shipdate").alias("o1"),
        F.col("l_orderkey").alias("o2"),
        F.col("l_linenumber").alias("o3"),
    )
    # ORDER TOTALITY (round-12 fix, found by the full-registry sf0.1
    # oracle sweep): the synthetic fixture's (l_orderkey, l_linenumber)
    # is NOT unique (118k duplicate pairs at sf0.1), so ordering by
    # (o1, o2, o3) alone left tied rows in arbitrary engine order and
    # the clamp count was NONDETERMINISTIC whenever tied rows carried
    # different deltas (exactly one such group at sf0.1 — the observed
    # ±1 flake). Appending delta as the last key makes tied rows fully
    # interchangeable for the recurrence: any order among rows equal on
    # (o1, o2, o3, delta) yields the identical prefix-sum sequence, so
    # both engines are deterministic and agree. TPC-H-strict data
    # (unique (orderkey, linenumber)) is unaffected.
    cur = Window.partitionBy("sk").orderBy("o1", "o2", "o3", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = Window.partitionBy("sk").orderBy("o1", "o2", "o3", "delta").rowsBetween(
        Window.unboundedPreceding, -1
    )
    s = d.withColumn("ps", F.sum("delta").over(cur))
    s2 = s.withColumn("prev_min", F.min("ps").over(prev))
    zero = F.lit(0).cast("bigint")
    prev_floor = F.coalesce(F.least(zero, F.col("prev_min")), zero)
    return (
        s2.groupBy(F.col("sk").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_moves"),
            F.sum("delta").cast("bigint").alias("net_delta"),
            (F.sum("delta") - F.least(zero, F.min("ps")))
            .cast("bigint")
            .alias("final_stock"),
            F.sum(F.when(F.col("ps") < prev_floor, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clamps"),
        )
        .orderBy("suppkey")
    )


# SURVEY.md §2.4 analytics / §2.9 events: PRICE-VOLUME BRIDGE (the
# Bennet/midpoint decomposition of a revenue move into price effect vs
# volume effect per brand — the "why did revenue change" companion to
# q_revenue_bridge's customer waterfall) and BOT-REGULARITY detection
# (users whose event inter-arrival gaps are implausibly regular — low
# coefficient of variation — the behavioral-abuse screen every event
# pipeline runs before counting engagement).
#
# Exactness: bridge effects are mirrored IEEE chains over exact yearly
# integers; the bot verdict is an EXACT INTEGER cross-multiplied
# comparison (100·(nΣg²−(Σg)²) < (Σg)² ⟺ cv < 0.1) — no float enters
# the flag.


_Y1, _Y2 = "1998", "1999"


@query(
    "q_price_volume_bridge",
    oracle=f"""
    WITH j AS (
      SELECT p.p_brand AS brand,
             (l.l_shipdate < TIMESTAMP '{_Y2}-01-01') AS is_y1,
             CAST(ROUND(l.l_quantity) AS BIGINT) AS qty,
             CAST(ROUND(l.l_extendedprice) AS BIGINT) AS dollars
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '{_Y1}-01-01'
        AND l.l_shipdate < TIMESTAMP '{int(_Y2) + 1}-01-01'
    ), per AS (
      SELECT brand,
             CAST(SUM(CASE WHEN is_y1 THEN qty ELSE 0 END) AS BIGINT) AS q1,
             CAST(SUM(CASE WHEN is_y1 THEN dollars ELSE 0 END) AS BIGINT)
               AS r1,
             CAST(SUM(CASE WHEN is_y1 THEN 0 ELSE qty END) AS BIGINT) AS q2,
             CAST(SUM(CASE WHEN is_y1 THEN 0 ELSE dollars END) AS BIGINT)
               AS r2
      FROM j GROUP BY 1
      HAVING SUM(CASE WHEN is_y1 THEN qty ELSE 0 END) > 0
         AND SUM(CASE WHEN is_y1 THEN 0 ELSE qty END) > 0
    )
    SELECT brand, q1, r1, q2, r2,
           CAST(r2 - r1 AS BIGINT) AS delta_dollars,
           (CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
            - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
             * (CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE)) / 2.0
             AS price_effect,
           (CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE))
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                + CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)) / 2.0
             AS volume_effect
    FROM per ORDER BY brand
    """,
)
def q_price_volume_bridge(spark, sf_dir):
    """PRICE-VOLUME BRIDGE 1998→1999 per brand: the Bennet
    (midpoint) decomposition Δrevenue ≈ Δp·q̄ + Δq·p̄ with p̄, q̄ the
    two-period midpoints — identifying whether a brand's move came
    from unit economics or demand. The identity price_effect +
    volume_effect = Δrevenue holds exactly in the reals; both effects
    are emitted as mirrored IEEE chains beside the EXACT integer
    delta so the reader can audit the residual.

    Scale shape: one pushed two-year range scan, broadcast part dim,
    ONE brand-grain conditional aggregate (never a self-join of the
    two years) — the q_revenue_bridge single-pass discipline at brand
    grain. No window, no SinglePartition."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(f"{_Y1}-01-01"))
            & (F.col("l_shipdate") < F.lit(f"{int(_Y2) + 1}-01-01"))
        )
        .join(
            part.select("p_partkey", "p_brand"),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(
            F.col("p_brand").alias("brand"),
            (F.col("l_shipdate") < F.lit(f"{_Y2}-01-01")).alias("is_y1"),
            F.round("l_quantity").cast("bigint").alias("qty"),
            F.round("l_extendedprice").cast("bigint").alias("dollars"),
        )
    )
    per = (
        j.groupBy("brand")
        .agg(
            F.sum(F.when(F.col("is_y1"), F.col("qty")).otherwise(0))
            .cast("bigint")
            .alias("q1"),
            F.sum(F.when(F.col("is_y1"), F.col("dollars")).otherwise(0))
            .cast("bigint")
            .alias("r1"),
            F.sum(F.when(F.col("is_y1"), 0).otherwise(F.col("qty")))
            .cast("bigint")
            .alias("q2"),
            F.sum(F.when(F.col("is_y1"), 0).otherwise(F.col("dollars")))
            .cast("bigint")
            .alias("r2"),
        )
        .where((F.col("q1") > 0) & (F.col("q2") > 0))
    )
    q1d, q2d = F.col("q1").cast("double"), F.col("q2").cast("double")
    r1d, r2d = F.col("r1").cast("double"), F.col("r2").cast("double")
    return per.select(
        "brand",
        "q1",
        "r1",
        "q2",
        "r2",
        (F.col("r2") - F.col("r1")).cast("bigint").alias("delta_dollars"),
        ((r2d / q2d - r1d / q1d) * (q1d + q2d) / F.lit(2.0)).alias(
            "price_effect"
        ),
        ((q2d - q1d) * (r1d / q1d + r2d / q2d) / F.lit(2.0)).alias(
            "volume_effect"
        ),
    ).orderBy("brand")


# SURVEY.md §2.4 / §2.1 storage: PARETO 80/20 (how many top users drive
# 80% of events — the power-user concentration headcount, answered
# exactly without a global sort) and the COLUMNAR ENCODING ADVISOR (per
# column: distinct ratio and page-local run statistics → dictionary /
# RLE / plain recommendation — the decision parquet writers make per
# column chunk, surfaced as a report so a layout service can pick sort
# keys that maximize runs).
#
# Exactness: the 80% threshold is an exact integer cross-multiplication
# (5·cum ≥ 4·total); run counting is integer; the only doubles are
# final mirrored ratios.


@query(
    "q_pareto_8020",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), vals AS (
      SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per_user GROUP BY 1
    ), c AS (
      SELECT n_events, n_users,
             SUM(n_events * n_users) OVER w AS cum_events,
             SUM(n_users) OVER w AS cum_users
      FROM vals
      WINDOW w AS (ORDER BY n_events DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW)
    ), t AS (
      SELECT CAST(SUM(n_events * n_users) AS BIGINT) AS total_events,
             CAST(SUM(n_users) AS BIGINT) AS total_users
      FROM vals
    )
    SELECT t.total_users, t.total_events,
           CAST(MIN(c.cum_users) AS BIGINT) AS n80_users,
           CAST(MIN(c.cum_users) AS DOUBLE)
             / CAST(t.total_users AS DOUBLE) AS n80_user_share
    FROM c CROSS JOIN t
    WHERE 5 * c.cum_events >= 4 * t.total_events
    GROUP BY t.total_users, t.total_events
    """,
)
def q_pareto_8020(spark, sf_dir):
    """PARETO 80/20 HEADCOUNT: the minimum number of heaviest users
    whose events cover ≥80% of all events — the "how concentrated is
    my traffic" scalar behind rate-limit and caching policy. The
    crossing point is found on the COUNT-VALUE grain (distinct
    per-user event counts — bounded by max activity, not user count),
    with the threshold as exact integers: 5·cum ≥ 4·total.

    Scale shape: user-grain count, then value-grain collapse, then
    the descending cumulative runs over the BOUNDED value frame (a
    scalar-frame-sized window, same class as the ACF/KS scalar
    passes); the crossing row reduces via MIN. Never sorts users."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    vals = per_user.groupBy("n_events").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    w = Window.orderBy(F.col("n_events").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = vals.select(
        "n_events",
        "n_users",
        F.sum(F.col("n_events") * F.col("n_users")).over(w).alias(
            "cum_events"
        ),
        F.sum("n_users").over(w).alias("cum_users"),
    )
    t = vals.agg(
        F.sum(F.col("n_events") * F.col("n_users"))
        .cast("bigint")
        .alias("total_events"),
        F.sum("n_users").cast("bigint").alias("total_users"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .where(5 * F.col("cum_events") >= 4 * F.col("total_events"))
        .groupBy("total_users", "total_events")
        .agg(F.min("cum_users").cast("bigint").alias("n80_users"))
        .select(
            "total_users",
            "total_events",
            "n80_users",
            (
                F.col("n80_users").cast("double")
                / F.col("total_users").cast("double")
            ).alias("n80_user_share"),
        )
    )


# SURVEY.md §2.9 analytics / §2.11 corpus: GROWTH ACCOUNTING (the weekly
# new / retained / resurrected / churned user ledger — the canonical
# active-user decomposition every growth team reports, at week grain
# because the fixture stream spans one month) and VOCABULARY GROWTH
# CHECKPOINTS (types-vs-tokens at doc prefixes — the measured Heaps' law
# curve that sizes tokenizer vocabs and predicts BPE merge-table
# growth).
#
# Exactness: both are pure integer counting; ratios are final mirrored
# divisions of exact counts.


@query(
    "q_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY 1
    ), weeks AS (
      SELECT DISTINCT wk FROM uw
    ), cur AS (
      SELECT uw.wk, uw.user_id, f.first_wk,
             CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS prev_active
      FROM uw
      JOIN firsts f ON uw.user_id = f.user_id
      LEFT JOIN uw p ON p.user_id = uw.user_id AND p.wk = uw.wk - 1
    ), churn AS (
      SELECT uw.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM uw
      LEFT JOIN uw nx ON nx.user_id = uw.user_id AND nx.wk = uw.wk + 1
      WHERE nx.user_id IS NULL
      GROUP BY 1
    )
    SELECT CAST(DATE '1970-01-05' + CAST(c.wk * 7 AS INTEGER) AS VARCHAR)
             AS week_start,
           CAST(SUM(CASE WHEN c.first_wk = c.wk THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN c.prev_active = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(SUM(CASE WHEN c.first_wk <> c.wk AND c.prev_active = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(MIN(ch.n_churned), 0) AS BIGINT) AS n_churned
    FROM cur c
    LEFT JOIN churn ch ON ch.wk = c.wk
    WHERE c.wk IN (SELECT wk FROM weeks)
    GROUP BY c.wk ORDER BY week_start
    """,
)
def q_growth_accounting(spark, sf_dir):
    """GROWTH ACCOUNTING at week grain: each week's active users
    split into NEW (first week ever), RETAINED (also active the
    previous week) and RESURRECTED (active, but last seen before the
    previous week), plus CHURNED (active the previous week, absent
    this week) — the growth-team ledger satisfying WAU(t) = new +
    retained + resurrected and WAU(t) − WAU(t−1) = new + resurrected
    − churned. Weeks are exact integers (days-since-Monday-epoch div
    7), sidestepping engine week-numbering conventions entirely; the
    fixture's one-month stream yields 5 weekly cohort rows.

    Scale shape: everything runs on the DISTINCT (user, week) grain —
    orders of magnitude below event grain; first-week is one MIN
    aggregate, previous/next-week presence are two same-key self-joins
    on (user, wk±1) integer arithmetic (co-partitioned on user), and
    the ledger collapses at week grain."""
    ev = read_table(spark, sf_dir, "events")
    wk = F.expr(
        "datediff(CAST(ts AS DATE), DATE '1970-01-05') div 7"
    )
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    firsts = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    p = uw.select(F.col("user_id").alias("pu"), F.col("wk").alias("pw"))
    cur = (
        uw.join(firsts, "user_id")
        .join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pw") == F.col("wk") - 1),
            "left",
        )
        .select(
            "wk",
            "first_wk",
            F.when(F.col("pu").isNotNull(), 1).otherwise(0).alias(
                "prev_active"
            ),
        )
    )
    nx = uw.select(F.col("user_id").alias("nu"), F.col("wk").alias("nw"))
    churn = (
        uw.join(
            nx,
            (F.col("user_id") == F.col("nu"))
            & (F.col("nw") == F.col("wk") + 1),
            "left",
        )
        .where(F.col("nu").isNull())
        .groupBy((F.col("wk") + 1).alias("cwk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    weeks = uw.select("wk").distinct()
    ledger = cur.groupBy("wk").agg(
        F.sum(F.when(F.col("first_wk") == F.col("wk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_active") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                (F.col("first_wk") != F.col("wk")) & (F.col("prev_active") == 0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    week_start = F.date_add(
        F.lit("1970-01-05").cast("date"), (F.col("wk") * 7).cast("int")
    ).cast("string")
    return (
        ledger.join(F.broadcast(churn), ledger.wk == churn.cwk, "left")
        .join(
            F.broadcast(weeks.select(F.col("wk").alias("ww"))),
            ledger.wk == F.col("ww"),
        )
        .select(
            week_start.alias("week_start"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0))
            .cast("bigint")
            .alias("n_churned"),
        )
        .orderBy("week_start")
    )


# SURVEY.md §2.9 analytics / §2.11 corpus: PRICE RELATIVES (per-brand
# monthly unit-price index against a fixed base month — the
# price-tracking table behind inflation/repricing dashboards, kept
# per-brand so every number is a ratio of exact sums, never a
# cross-brand float accumulation) and WORD BURSTINESS (variance-to-mean
# ratio of per-document counts for the corpus's top terms — the
# dispersion statistic that separates topical words, which cluster in
# few docs, from function words spread evenly; a standard corpus-QC
# signal next to Zipf and TF-IDF).
#
# Exactness: unit prices divide exact cent/quantity sums; burstiness
# uses exact integer raw moments (Σc, Σc², n) per word, so the VMR is a
# fixed-order float chain over three exact integers.


@query(
    "q_price_relatives",
    oracle="""
    WITH cell AS (
      SELECT p.p_brand AS brand,
             STRFTIME(l.l_shipdate, '%Y-%m') AS month,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), base AS (
      SELECT brand, MIN(month) AS base_month FROM cell GROUP BY 1
    )
    SELECT c.brand, c.month,
           CAST(c.cents AS DOUBLE) / CAST(c.qty AS DOUBLE) AS unit_cents,
           CAST(b0.cents AS DOUBLE) / CAST(b0.qty AS DOUBLE)
             AS base_unit_cents,
           (CAST(c.cents AS DOUBLE) / CAST(c.qty AS DOUBLE))
             / (CAST(b0.cents AS DOUBLE) / CAST(b0.qty AS DOUBLE))
             AS price_relative
    FROM cell c
    JOIN base b ON c.brand = b.brand
    JOIN cell b0 ON b0.brand = b.brand AND b0.month = b.base_month
    ORDER BY c.brand, c.month
    """,
)
def q_price_relatives(spark, sf_dir):
    """PRICE RELATIVES: per brand and month, the quantity-weighted
    unit price (exact cent and quantity sums divided once) and its
    ratio to the brand's FIRST observed month — the per-brand price
    index a repricing dashboard plots. Deliberately per-brand: a
    cross-brand Laspeyres sum would accumulate floats across rows in
    engine-dependent order, while every number here is a ratio of two
    exact integer sums (the aggregate-then-divide discipline used
    throughout the repo for money).

    Scale shape: one fact ⋈ broadcast-dim join into a (brand, month)
    cell aggregate — the cell grain (~25 brands × ~84 months) bounds
    everything after it: the base-month lookup is a MIN per brand and
    a same-grain join-back, both on the tiny cell table."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cell = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    base = cell.groupBy("brand").agg(F.min("month").alias("base_month"))
    b0 = cell.select(
        F.col("brand").alias("b2"),
        F.col("month").alias("m2"),
        F.col("cents").alias("base_cents"),
        F.col("qty").alias("base_qty"),
    )
    unit = F.col("cents").cast("double") / F.col("qty").cast("double")
    base_unit = F.col("base_cents").cast("double") / F.col("base_qty").cast(
        "double"
    )
    return (
        cell.join(F.broadcast(base), "brand")
        .join(
            F.broadcast(b0),
            (F.col("brand") == F.col("b2"))
            & (F.col("base_month") == F.col("m2")),
        )
        .select(
            "brand",
            "month",
            unit.alias("unit_cents"),
            base_unit.alias("base_unit_cents"),
            (unit / base_unit).alias("price_relative"),
        )
        .orderBy("brand", "month")
    )


# SURVEY.md §2.9 analytics / §2.11 corpus: ABC CLASSIFICATION (parts
# split into A/B/C revenue classes at the 80%/95% cumulative-share cuts
# — the inventory-management standard, computed with the repo's
# two-phase banded rank so no global sort ever happens) and DOCUMENT
# NOVELTY (per-source share of word-5-gram shingles a doc introduces to
# the corpus — the "is this source adding new content or recycling"
# signal that complements q_vocab_growth at source grain).
#
# Exactness: revenue is exact cents; cumulative crossing uses integer
# cross-multiplication; novelty counts are exact shingle integers.


@query(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS total
      FROM rev
    ), classed AS (
      SELECT partkey, cents,
             CASE WHEN 100 * (cum - cents) < 80 * total THEN 'A'
                  WHEN 100 * (cum - cents) < 95 * total THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents,
           CAST(SUM(cents) AS DOUBLE)
             / CAST(SUM(SUM(cents)) OVER () AS DOUBLE) AS revenue_share
    FROM classed GROUP BY abc ORDER BY abc
    """,
)
def q_abc_classification(spark, sf_dir):
    """ABC CLASSIFICATION: parts ranked by revenue; a part is class A
    while the revenue strictly BEFORE it is under 80% of the total,
    B under 95%, else C (the standard prior-cumulative rule, so the
    first part is always A) — the inventory-policy split (count A
    daily, B weekly, C quarterly). Thresholds are exact integer
    cross-multiplications: 100·prior < 80·total.

    Scale shape: part-grain exact-cents aggregate, then the exact
    descending global rank WITHOUT a total-order sort — the q_gini /
    q_lorenz two-phase banded trick flipped descending: band counts
    and subtotals roll into cumulative offsets over BOUNDED band rows,
    within-band cumulative sums partition by band, and prior-revenue =
    band offset + within-band prefix. The oracle keeps the plain
    window formulation. Class rollup is a 3-row aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    ).withColumn("band", F.shiftright(F.col("cents"), _BAND_SHIFT))
    # Phase 1: per-band revenue subtotals -> offsets of revenue in
    # HIGHER bands (descending order), over bounded band rows.
    bands = rev.groupBy("band").agg(
        F.sum("cents").cast("bigint").alias("band_cents")
    )
    wb = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = bands.select(
        "band",
        (F.sum("band_cents").over(wb) - F.col("band_cents")).alias(
            "offset"
        ),
        F.sum("band_cents").over(wall).cast("bigint").alias("total"),
    )
    # Phase 2: within-band descending prefix (partitioned by band —
    # parallel), prior revenue = band offset + prefix before this row.
    ww = (
        Window.partitionBy("band")
        .orderBy(F.col("cents").desc(), "partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    classed = (
        rev.join(F.broadcast(offsets), "band")
        .withColumn(
            "prior",
            F.col("offset") + F.sum("cents").over(ww) - F.col("cents"),
        )
        .withColumn(
            "abc",
            F.when(100 * F.col("prior") < 80 * F.col("total"), "A")
            .when(100 * F.col("prior") < 95 * F.col("total"), "B")
            .otherwise("C"),
        )
    )
    out = classed.groupBy("abc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("class_cents"),
    )
    return (
        out.select(
            "abc",
            "n_parts",
            "class_cents",
            (
                F.col("class_cents").cast("double")
                / F.sum("class_cents").over(wall).cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("abc")
    )


# SURVEY.md §2.9 supply chain / §2.1 storage: BULLWHIP RATIO (variance
# amplification between monthly ordered and shipped quantities — the
# Lee/Padmanabhan/Whang supply-chain instability metric) and CLUSTERING
# DEPTH (per column, the expected number of pages whose min/max zone
# overlaps a uniformly random point of the domain — the scalar that says
# whether zone maps will actually skip anything, completing the
# q_zone_map_prune / q_sort_key_whatif / q_encoding_advisor
# storage-layout suite).
#
# Exactness: both reduce to exact integer sums at bounded grains
# (months / pages); the final statistics are fixed-order float chains
# over those integers.


@query(
    "q_bullwhip",
    oracle="""
    WITH om AS (
      SELECT STRFTIME(o.o_orderdate, '%Y-%m') AS m,
             CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    ), sm AS (
      SELECT STRFTIME(l_shipdate, '%Y-%m') AS m,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1
    ), mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2
      FROM om
    ), ms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q * q) AS BIGINT) AS s2
      FROM sm
    )
    SELECT mo.n AS n_order_months, ms.n AS n_ship_months,
           CAST(mo.s2 AS DOUBLE) / CAST(mo.n AS DOUBLE)
             - (CAST(mo.s1 AS DOUBLE) / CAST(mo.n AS DOUBLE))
               * (CAST(mo.s1 AS DOUBLE) / CAST(mo.n AS DOUBLE))
             AS order_var,
           CAST(ms.s2 AS DOUBLE) / CAST(ms.n AS DOUBLE)
             - (CAST(ms.s1 AS DOUBLE) / CAST(ms.n AS DOUBLE))
               * (CAST(ms.s1 AS DOUBLE) / CAST(ms.n AS DOUBLE))
             AS ship_var,
           (CAST(ms.s2 AS DOUBLE) / CAST(ms.n AS DOUBLE)
            - (CAST(ms.s1 AS DOUBLE) / CAST(ms.n AS DOUBLE))
              * (CAST(ms.s1 AS DOUBLE) / CAST(ms.n AS DOUBLE)))
           / (CAST(mo.s2 AS DOUBLE) / CAST(mo.n AS DOUBLE)
              - (CAST(mo.s1 AS DOUBLE) / CAST(mo.n AS DOUBLE))
                * (CAST(mo.s1 AS DOUBLE) / CAST(mo.n AS DOUBLE)))
             AS bullwhip
    FROM mo CROSS JOIN ms
    """,
)
def q_bullwhip(spark, sf_dir):
    """BULLWHIP RATIO: Var(monthly shipped quantity) / Var(monthly
    ordered quantity) — the Lee et al. (1997) variance-amplification
    diagnostic; > 1 means the fulfillment side swings harder than
    demand (batching/backlog effects), the instability a supply
    planner damps first. Demand is keyed by ORDER month, fulfillment
    by SHIP month, over the same lines.

    Scale shape: two month-grain exact-integer aggregates (the ship
    side needs no join at all; the order side is the co-partitionable
    orderkey join), then integer raw moments over the BOUNDED month
    grain (~84 rows) and one fixed-order float chain. The two scalar
    reductions are the only single-partition stages."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    qty = F.round(F.col("l_quantity")).cast("bigint")
    om = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .agg(F.sum(qty).cast("bigint").alias("q"))
    )
    sm = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("m")
    ).agg(F.sum(qty).cast("bigint").alias("q"))

    def moments(df, n_name):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.sum("q").cast("bigint").alias(n_name + "_s1"),
            F.sum(F.col("q") * F.col("q")).cast("bigint").alias(
                n_name + "_s2"
            ),
        )

    mo = moments(om, "n_order_months")
    ms = moments(sm, "n_ship_months")

    def var_of(n, s1, s2):
        nd = F.col(n).cast("double")
        m1 = F.col(s1).cast("double") / nd
        return F.col(s2).cast("double") / nd - m1 * m1

    order_var = var_of("n_order_months", "n_order_months_s1", "n_order_months_s2")
    ship_var = var_of("n_ship_months", "n_ship_months_s1", "n_ship_months_s2")
    return mo.crossJoin(F.broadcast(ms)).select(
        "n_order_months",
        "n_ship_months",
        order_var.alias("order_var"),
        ship_var.alias("ship_var"),
        (ship_var / order_var).alias("bullwhip"),
    )
