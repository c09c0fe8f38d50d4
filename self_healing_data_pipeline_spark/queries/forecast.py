"""Time-series and forecasting queries (SURVEY.md §2.9).

Trends, moving averages, seasonality, change points, autocorrelation,
gap interpolation and forecast backtests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.functions.scalar import ts_str
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_ema",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), rec AS (
      SELECT user_id, rn, n, value, value AS ema FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.n, s.value,
             0.8 * r.ema + 0.2 * s.value
      FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           value AS last_value, ema AS ema_last
    FROM rec WHERE rn = n
    ORDER BY user_id
    """,
)
def q_ema(spark, sf_dir):
    """Per-user exponential moving average of event values (the
    monitoring primitive behind rate smoothing and anomaly baselines):
    y_0 = x_0, y_i = 0.8·y_{i-1} + 0.2·x_i over (ts, event_id) order,
    reporting each user's final smoothed level.

    EMA is sequential per key and Spark has no linear-recurrence
    window, so the kernel is the SECONDARY-SORT pattern:
    repartition(user_id) + sortWithinPartitions(user_id, ts, event_id)
    + ONE mapInPandas fold per partition — keys stay co-located and
    ordered, so each Python worker folds MANY users per invocation
    (vs one applyInPandas call per group, whose per-group overhead
    dominates when groups are small; measured 4× faster here). State is
    one float per in-flight key; the shuffle carries only (user_id, ts,
    value). The float recurrence is written as the identical
    two-multiply-one-add expression on both engines, so IEEE rounding
    agrees bit-for-bit with the DuckDB recursive-CTE twin."""
    e = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )

    def ema_partition(batches):
        cur = None  # (user_id, n, last, ema) for the key spanning batches
        out_u, out_n, out_l, out_e = [], [], [], []
        for pdf in batches:
            for u, x in zip(pdf["user_id"], pdf["value"]):
                u, x = int(u), float(x)
                if cur is not None and cur[0] == u:
                    cur = (u, cur[1] + 1, x, 0.8 * cur[3] + 0.2 * x)
                else:
                    if cur is not None:
                        out_u.append(cur[0]); out_n.append(cur[1])
                        out_l.append(cur[2]); out_e.append(cur[3])
                    cur = (u, 1, x, x)
        if cur is not None:
            out_u.append(cur[0]); out_n.append(cur[1])
            out_l.append(cur[2]); out_e.append(cur[3])
        yield pd.DataFrame(
            {
                "user_id": pd.Series(out_u, dtype="int64"),
                "n_events": pd.Series(out_n, dtype="int64"),
                "last_value": pd.Series(out_l, dtype="float64"),
                "ema_last": pd.Series(out_e, dtype="float64"),
            }
        )

    return (
        e.mapInPandas(
            ema_partition,
            "user_id long, n_events long, last_value double, ema_last double",
        )
        .orderBy("user_id")
    )


# SURVEY.md §2.3/§2.9: time-series gap filling with linear interpolation
# (the hypertable ``interpolate()`` companion to the existing
# LOCF/date-series ops), bounded k-hop graph reach (the frontier
# -expansion BFS pattern), and the FORWARD as-of join with tolerance
# (click → next purchase within the hour) completing the as-of family.
#
# Scale discipline: calendar-bounded ordered passes only, frontier joins
# deduplicate per hop (never exponential), one shuffle per as-of side on
# the join key, exact integer masses with at most two IEEE ops per
# interpolated value (one divide, one add — identical operand order on
# both engines, hence bit-exact).


@query(
    "q_interpolate_hourly",
    oracle="""
    WITH present AS (
      SELECT DATE_TRUNC('hour', ts) AS hr,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND value >= 150.0
      GROUP BY 1
    ), cal AS (
      SELECT UNNEST(GENERATE_SERIES((SELECT MIN(hr) FROM present),
                                    (SELECT MAX(hr) FROM present),
                                    INTERVAL 1 HOUR)) AS hr
    ), marked AS (
      SELECT c.hr, p.cents,
             CAST(EPOCH(c.hr) AS BIGINT) / 3600 AS eh
      FROM cal c LEFT JOIN present p ON c.hr = p.hr
    ), filled AS (
      SELECT hr, cents, eh,
             LAST_VALUE(cents IGNORE NULLS) OVER
               (ORDER BY eh ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_c,
             LAST_VALUE(CASE WHEN cents IS NOT NULL THEN eh END IGNORE NULLS)
               OVER (ORDER BY eh
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_h,
             FIRST_VALUE(cents IGNORE NULLS) OVER
               (ORDER BY eh ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_c,
             FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN eh END IGNORE NULLS)
               OVER (ORDER BY eh
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_h
      FROM marked
    )
    SELECT CAST(STRFTIME(hr, '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS hour,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                ELSE CAST(prev_c AS DOUBLE)
                     + CAST((next_c - prev_c) * (eh - prev_h) AS DOUBLE)
                       / CAST(next_h - prev_h AS DOUBLE)
           END AS revenue_cents,
           (cents IS NULL) AS is_interpolated
    FROM filled ORDER BY hr
    """,
)
def q_interpolate_hourly(spark, sf_dir):
    """Hourly revenue series for high-value purchases with LINEAR
    INTERPOLATION over missing hours — the time-series gap-fill op
    (TimescaleDB's ``interpolate()``; the LOCF companion already exists
    as ``q_events_attribution``'s fill pass).

    Plan: the present hours are one map-side-partial aggregate; the
    complete calendar comes from a bounded ``sequence()`` between the
    broadcast min/max scalars (≤ span hours — calendar-bounded, the
    q_orders_backlog discipline, so the single ordered pass over the
    grid is over bounded rows, never the event stream). prev/next
    anchors attach via two LOCF window scans (last/first IGNORE NULLS);
    the interpolated value is exact-integer numerators with ONE IEEE
    division and ONE add in the same operand order as the oracle —
    bit-exact cross-engine."""
    ev = read_table(spark, sf_dir, "events")
    present = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") >= 150.0))
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    # bounds via a window over the (bounded) present-hours aggregate +
    # limit(1): the calendar derives from the same exchange instead of
    # re-aggregating the event scan in a second branch
    wall = Window.partitionBy()
    cal = (
        present.select(
            F.min("hr").over(wall).alias("lo"), F.max("hr").over(wall).alias("hi")
        )
        .limit(1)
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
        )
    )
    marked = cal.join(present, "hr", "left").withColumn(
        "eh", (F.unix_timestamp("hr") / 3600).cast("bigint")
    )
    wb = Window.orderBy("eh").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("eh").rowsBetween(0, Window.unboundedFollowing)
    filled = marked.select(
        "hr",
        "cents",
        "eh",
        F.last("cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(
            F.when(F.col("cents").isNotNull(), F.col("eh")), ignorenulls=True
        ).over(wb).alias("prev_h"),
        F.first("cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(
            F.when(F.col("cents").isNotNull(), F.col("eh")), ignorenulls=True
        ).over(wf).alias("next_h"),
    )
    interp = F.col("prev_c").cast("double") + (
        ((F.col("next_c") - F.col("prev_c")) * (F.col("eh") - F.col("prev_h")))
        .cast("double")
        / (F.col("next_h") - F.col("prev_h")).cast("double")
    )
    return filled.select(
        ts_str("hr").alias("hour"),
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .otherwise(interp)
        .alias("revenue_cents"),
        F.col("cents").isNull().alias("is_interpolated"),
    ).orderBy("hr")


# SURVEY.md §2.9/§2.11: statistical analytics — OLS trend fitting over
# daily revenue, market-basket association rules (support / confidence /
# lift), and a contingency table with chi-square cell contributions
# (categorical drift detection).
#
# Scale discipline: every statistic reduces to EXACT integer moment sums
# via map-side partial aggregation (x centered on the broadcast min day
# so Σxy fits int64 even at 100 TB daily volumes), with the named IEEE
# divisions applied in oracle-identical operand order at the very end —
# never a float accumulated across rows.


@query(
    "q_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), based AS (
      SELECT event_type,
             CAST(d - (SELECT MIN(d) FROM daily) AS BIGINT) AS x,
             cents AS y
      FROM daily
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM based GROUP BY event_type
    )
    SELECT event_type, n, sx, sy,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents
    FROM m ORDER BY event_type
    """,
)
def q_revenue_trend(spark, sf_dir):
    """Per-type OLS linear trend of daily revenue — is each event
    type's revenue growing or shrinking, as a fitted slope in
    cents/day (the trend-detection analytic behind every KPI dashboard).

    Plan: daily exact-cents aggregate → moment sums (n, Σx, Σy, Σxy,
    Σx²) in ONE map-side-partial aggregate per type — the closed-form
    least-squares normal equations need nothing else. x is the day
    offset from the broadcast global min day, so Σxy stays far inside
    int64 at any corpus scale (raw epoch-days × 100 TB daily cents
    would overflow). slope and intercept are the only IEEE operations,
    in oracle-identical operand order."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # global min day as a WINDOW OVER THE AGGREGATE (the one-scan
    # report policy, SCALE.md): the ordered stage touches only the
    # bounded types x days rollup, and events scan once
    from pyspark.sql import Window as _W

    based = daily.withColumn("d0", F.min("d").over(_W.partitionBy())).select(
        "event_type",
        F.datediff("d", "d0").cast("bigint").alias("x"),
        F.col("cents").alias("y"),
    )
    m = based.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "event_type",
        "n",
        "sx",
        "sy",
        slope.alias("slope_cents_per_day"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
    ).orderBy("event_type")


# SURVEY.md §2.9/§2.11: iterative graph ranking, catalog dependency
# profiling, and operational time-series diagnostics — PageRank over the
# part co-occurrence graph, functional-dependency discovery, CUSUM
# change-point detection, day-of-week seasonality, and a join-key skew
# report.
#
# Cross-engine determinism (SURVEY.md §7 playbook): every iterative /
# ratio quantity is computed in EXACT integer arithmetic as long as
# possible — PageRank runs entirely in fixed-point BIGINT (integer floor
# division is deterministic and its sums are order-independent, unlike
# IEEE float addition), CUSUM is the algebraically-multiplied-out
# ``n·cumsum − t·total`` (no division at all), and shares/ratios perform
# exactly ONE IEEE divide at the very end in mirrored operand order.
#
# Reference parity: the catalog/relationship-discovery vision
# (`automated-data-catalog-&-etl/README.md:7,21` — "relationships between
# datasets", knowledge-graph view) is what FD discovery and the skew
# report serve; the profiling surface (`services/geminiService.ts`
# prompt fields) lists per-column dependency/quality facts this computes
# deterministically.


@query(
    "q_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total
      FROM daily
    ), cur AS (
      SELECT day,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM daily
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day_str, t,
           CAST(CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * total
                AS DOUBLE) AS cusum_scaled
    FROM cur, tot
    ORDER BY ABS(CAST(CAST(n AS HUGEINT) * cum
                      - CAST(t AS HUGEINT) * total AS DOUBLE)) DESC,
             day_str LIMIT 5
    """,
)
def q_changepoint_cusum(spark, sf_dir):
    """CUSUM change-point detection on the daily revenue series: the
    days where the cumulative deviation from the series mean peaks —
    the classic level-shift detector (did the process change here?),
    next to the anomaly/drift ops.

    Determinism: the textbook statistic ``Σ_{i<=t}(x_i − mean)``
    divides by n; multiplied out by n it becomes
    ``n·cumsum_t − t·total`` — ALL integer, no division, no float
    accumulation. The single lossy step is the final cast of that
    exact integer to DOUBLE (same integer → same IEEE double on both
    engines). Products are taken in HUGEINT/decimal lanes so
    petabyte-scale cents can't overflow.

    Scale shape: the raw scan collapses map-side-partial to DAY grain
    (bounded by the calendar — a few thousand rows at ANY data scale),
    so the ordered running-sum window over it is bounded work, the
    same bounded-grain exemption as the hourly interpolation op. The
    one-row (n, total) frame broadcasts."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    w = Window.orderBy("day")
    cur = daily.select(
        "day",
        F.row_number().over(w).cast("bigint").alias("t"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum"),
    )
    dec = "decimal(38,0)"
    cusum = (
        F.col("n").cast(dec) * F.col("cum").cast(dec)
        - F.col("t").cast(dec) * F.col("total").cast(dec)
    ).cast("double")
    return (
        cur.crossJoin(F.broadcast(tot))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            "t",
            cusum.alias("cusum_scaled"),
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day_str")
        .limit(5)
    )


@query(
    "q_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT DAYOFWEEK(CAST(o_orderdate AS DATE)) + 1 AS dow,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), agg AS (
      SELECT CAST(dow AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM d GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS total FROM agg
    )
    SELECT dow, n_orders, cents,
           CAST(cents AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           7.0 * (CAST(cents AS DOUBLE) / CAST(total AS DOUBLE))
             AS seasonal_index
    FROM agg, tot ORDER BY dow
    """,
)
def q_dow_seasonality(spark, sf_dir):
    """Day-of-week SEASONALITY decomposition of order revenue: per
    weekday, exact order count and cents plus the seasonal index
    (share × 7 — 1.0 means "an average day") — the first question
    asked of any operational time series, and the denominator for
    seasonally-adjusted anomaly thresholds.

    Determinism: Spark's ``dayofweek`` is 1-based Sunday=1, DuckDB's
    ``DAYOFWEEK`` is 0-based Sunday=0 — the oracle adds 1. Masses are
    exact cents; the ONE division (and the ×7.0) happens on the final
    7-row frame in mirrored operand order.

    Scale shape: a single scan collapsing map-side-partial to a 7-row
    grid; the 1-row total broadcasts back. Nothing here grows with
    data volume."""
    o = read_table(spark, sf_dir, "orders")
    agg = (
        o.select(
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    tot = agg.agg(F.sum("cents").cast("bigint").alias("total"))
    share = F.col("cents").cast("double") / F.col("total").cast("double")
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_orders",
            "cents",
            share.alias("share"),
            (F.lit(7.0) * share).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


@query(
    "q_seasonal_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             DAYOFWEEK(CAST(o_orderdate AS DATE)) + 1 AS dow,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), per_dow AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS dow_days,
             CAST(SUM(cents) AS BIGINT) AS dow_total
      FROM daily GROUP BY 1
    )
    SELECT STRFTIME(d.day, '%Y-%m-%d') AS day_str,
           CAST(d.dow AS INT) AS dow, d.cents,
           CAST(p.dow_total AS DOUBLE) / CAST(p.dow_days AS DOUBLE)
             AS dow_mean,
           CAST(d.cents * p.dow_days AS DOUBLE) / CAST(p.dow_total AS DOUBLE)
             AS ratio,
           CASE WHEN d.cents * p.dow_days * 2 > 3 * p.dow_total
                THEN 'high' ELSE 'low' END AS direction
    FROM daily d JOIN per_dow p ON d.dow = p.dow
    WHERE d.cents * p.dow_days * 2 > 3 * p.dow_total
       OR d.cents * p.dow_days * 2 < p.dow_total
    ORDER BY day_str
    """,
)
def q_seasonal_anomaly(spark, sf_dir):
    """SEASONALLY-ADJUSTED anomaly days: days whose revenue deviates
    from their own WEEKDAY's mean by more than ±50% — the composition
    q_dow_seasonality exists for (a quiet Sunday is not an anomaly
    just because Sundays are quiet; comparing each day to its weekday
    mean removes the weekly cycle before flagging).

    Determinism: membership is decided by INTEGER cross-multiplication
    (``cents · dow_days · 2 > 3 · dow_total`` ⇔ ratio > 1.5 exactly,
    no float ever enters the predicate); the reported mean/ratio
    divide once, in mirrored operand order, on the surviving rows.

    Scale shape: the scan collapses map-side-partial to day grain
    (calendar-bounded); the 7-row weekday profile derives from the
    daily frame and broadcasts back onto it. Nothing grows with data
    volume past the first aggregate."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("dow_days"),
        F.sum("cents").cast("bigint").alias("dow_total"),
    )
    j = daily.join(F.broadcast(per_dow), "dow")
    lhs = F.col("cents") * F.col("dow_days") * 2
    return (
        j.filter(
            (lhs > 3 * F.col("dow_total")) | (lhs < F.col("dow_total"))
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            "dow",
            "cents",
            (
                F.col("dow_total").cast("double")
                / F.col("dow_days").cast("double")
            ).alias("dow_mean"),
            (
                (F.col("cents") * F.col("dow_days")).cast("double")
                / F.col("dow_total").cast("double")
            ).alias("ratio"),
            F.when(lhs > 3 * F.col("dow_total"), F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("direction"),
        )
        .orderBy("day_str")
    )


@query(
    "q_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), mx AS (
      SELECT MAX(day) AS max_day FROM daily
    )
    SELECT STRFTIME(a.day, '%Y-%m-%d') AS day_str,
           a.cents AS actual_cents,
           f.cents AS forecast_cents,
           CAST(ABS(a.cents - f.cents) AS BIGINT) AS abs_err_cents
    FROM daily a
    JOIN daily f ON f.day = a.day - INTERVAL 7 DAY, mx
    WHERE a.day > mx.max_day - INTERVAL 28 DAY
    ORDER BY day_str
    """,
)
def q_forecast_backtest(spark, sf_dir):
    """Seasonal-naive FORECAST BACKTEST: predict each of the last 28
    days' revenue as "same weekday last week" and report per-day
    actual, forecast, and absolute error — the baseline every
    forecasting pipeline must publish before anything fancier ships
    (if a model can't beat same-day-last-week, it isn't a model).

    Determinism: the forecast join is exact DATE arithmetic
    (``day − 7 days`` equi-join — NOT ``LAG(7)``, which silently
    misforecasts across calendar gaps in sparse fixtures); errors are
    exact integer cents; no division anywhere.

    Scale shape: day-grain map-side collapse (calendar-bounded), one
    self-equi-join on the day key of that tiny frame, broadcast 1-row
    max-day bound. Constant-size output."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    f = daily.select(
        F.col("day").alias("f_day"), F.col("cents").alias("forecast_cents")
    )
    return (
        daily.join(f, F.col("f_day") == F.date_sub(F.col("day"), 7))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("day") > F.date_sub(F.col("max_day"), 28))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            F.col("cents").alias("actual_cents"),
            "forecast_cents",
            F.abs(F.col("cents") - F.col("forecast_cents"))
            .cast("bigint")
            .alias("abs_err_cents"),
        )
        .orderBy("day_str")
    )


@query(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), tr AS (
      SELECT day, cents,
             SUM(cents * 1000) OVER w AS wsum,
             COUNT(*) OVER w AS wn
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), t2 AS (
      SELECT day, cents,
             (wsum - ((wsum % wn) + wn) % wn) // wn AS trend_mc,
             cents * 1000 - (wsum - ((wsum % wn) + wn) % wn) // wn AS det_mc
      FROM tr
    ), seas AS (
      SELECT DAYOFWEEK(day) + 1 AS dow,
             SUM(det_mc) AS ssum, CAST(COUNT(*) AS BIGINT) AS sn
      FROM t2 GROUP BY 1
    ), s2 AS (
      SELECT dow, (ssum - ((ssum % sn) + sn) % sn) // sn AS seasonal_mc
      FROM seas
    ), mx AS (SELECT MAX(day) AS max_day FROM daily)
    SELECT STRFTIME(t.day, '%Y-%m-%d') AS day_str,
           t.cents,
           CAST(t.trend_mc AS BIGINT) AS trend_mc,
           CAST(s.seasonal_mc AS BIGINT) AS seasonal_mc,
           CAST(t.det_mc - s.seasonal_mc AS BIGINT) AS residual_mc
    FROM t2 t
    JOIN s2 s ON DAYOFWEEK(t.day) + 1 = s.dow, mx
    WHERE t.day > mx.max_day - INTERVAL 28 DAY
    ORDER BY day_str
    """,
)
def q_seasonal_decompose(spark, sf_dir):
    """STL-lite SEASONAL DECOMPOSITION of daily revenue: trend =
    centered 7-day moving average, seasonal = per-weekday mean of the
    detrended series, residual = the rest — reported for the last 28
    days in exact integer MILLICENTS. The decomposition behind
    q_seasonal_anomaly's adjusted thresholds, materialized as data.

    Determinism: every mean is exact-integer FLOOR division — written
    as (x − posmod(x, n)) / n on BOTH engines because DuckDB's `//`
    truncates while Spark's pmod form floors (they disagree on the
    negative detrended sums; the posmod form floors on both). The
    millicent scale keeps every intermediate < 2^53.

    Scale shape: the raw scan collapses map-side to the day grain;
    the centered-MA window and the weekday rollup run over the
    CALENDAR-BOUNDED grain (the q_changepoint_cusum class — its
    SinglePartition is over ~10³ rows regardless of fact volume);
    the 7-row seasonal profile broadcasts back."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        F.sum(F.col("cents") * 1000).over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )

    def floordiv(x, n):
        return ((x - F.pmod(x, n)) / n).cast("bigint")

    t2 = tr.select(
        "day",
        "cents",
        floordiv(F.col("wsum"), F.col("wn")).alias("trend_mc"),
        (F.col("cents") * 1000 - floordiv(F.col("wsum"), F.col("wn"))).alias(
            "det_mc"
        ),
    )
    dow = F.dayofweek("day").cast("bigint")
    seas = t2.groupBy(dow.alias("dow")).agg(
        F.sum("det_mc").alias("ssum"),
        F.count(F.lit(1)).cast("bigint").alias("sn"),
    )
    s2 = seas.select(
        "dow", floordiv(F.col("ssum"), F.col("sn")).alias("seasonal_mc")
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    return (
        t2.join(F.broadcast(s2), dow == F.col("dow"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("day") > F.date_sub(F.col("max_day"), 28))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            "cents",
            "trend_mc",
            "seasonal_mc",
            (F.col("det_mc") - F.col("seasonal_mc"))
            .cast("bigint")
            .alias("residual_mc"),
        )
        .orderBy("day_str")
    )


# SURVEY.md §2.9 time series: the AUTOCORRELATION FUNCTION (lag-1..7 ACF
# of the daily revenue series — the seasonality detector that tells a
# forecaster which lags matter, complementing q_seasonal_decompose's
# fixed weekly model) and OHLC BARS (per-hour open/high/low/close/volume
# candles over the event stream — the canonical downsampling operator
# for metric and tick series).
#
# Exactness: revenues in integer dollars (products of centered daily
# deviations stay under 2^53 so the BIGINT→DOUBLE hop is correctly
# rounded in both engines — the q_corr_matrix fence), event values in
# integer cents; open/close resolve ties by (ts, event_id) so the
# bars are total-order deterministic.


_MAX_LAG = 7


@query(
    "q_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(ROUND(o_totalprice)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), m AS (
      SELECT SUM(x) // COUNT(*) AS mu,
             CAST(CAST(SUM((x - (SELECT SUM(x) // COUNT(*) FROM daily))
                   * (x - (SELECT SUM(x) // COUNT(*) FROM daily)))
               AS BIGINT) AS DOUBLE) AS denom
      FROM daily
    ), lags AS (
      SELECT k FROM UNNEST(GENERATE_SERIES(1, {_MAX_LAG})) AS t(k)
    ), pairs AS (
      SELECT lags.k,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(CAST(SUM((a.x - m.mu) * (b.x - m.mu)) AS BIGINT)
               AS DOUBLE) AS num
      FROM daily a
      CROSS JOIN lags
      JOIN daily b ON b.day = a.day + CAST(lags.k AS BIGINT) * INTERVAL 1 DAY
      CROSS JOIN m
      GROUP BY lags.k, m.denom
    )
    SELECT p.k AS lag, p.n_pairs, p.num / m.denom AS acf
    FROM pairs p CROSS JOIN m
    ORDER BY lag
    """,
)
def q_autocorrelation(spark, sf_dir):
    """SAMPLE ACF of daily order revenue at lags 1..7: r_k =
    Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)² with the full-series mean — the
    correlogram a forecaster reads before choosing seasonal terms
    (a weekly cycle shows as a lag-7 peak). Pairs join on calendar
    day + k, so gap days pair with nothing (honest irregular-series
    semantics, identical in both engines).

    Exactness: daily revenue in integer DOLLARS, centered by the
    integer floor mean — centered products ×|series| stay under 2^53,
    so every BIGINT→DOUBLE conversion is correctly rounded (cents
    overflowed that fence; the q_corr_matrix discipline chooses the
    unit). Final ACF is one mirrored IEEE division.

    Scale shape: the series aggregate is day-grain (bounded: years ×
    365); the lag join is an equi-join on day after a 7-way lag
    explode of the TINY day-grain frame — never a window over the raw
    fact table, never SinglePartition on the fact path."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.round("o_totalprice")).cast("bigint").alias("x"))
    s, n_ = F.sum("x"), F.count(F.lit(1))
    m = daily.agg(((s - F.pmod(s, n_)) / n_).cast("bigint").alias("mu"))
    centered = daily.crossJoin(F.broadcast(m)).select(
        "day", (F.col("x") - F.col("mu")).alias("dev")
    )
    denom = centered.agg(
        F.sum(F.col("dev") * F.col("dev"))
        .cast("bigint")
        .cast("double")
        .alias("denom")
    )
    lags = centered.select(
        "day",
        "dev",
        F.explode(F.sequence(F.lit(1), F.lit(_MAX_LAG))).alias("lag"),
    ).select(
        "lag",
        F.date_add(F.col("day"), F.col("lag")).alias("pair_day"),
        F.col("dev").alias("dev_a"),
    )
    pairs = lags.join(
        centered.select(
            F.col("day").alias("pair_day"), F.col("dev").alias("dev_b")
        ),
        "pair_day",
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("dev_a") * F.col("dev_b"))
        .cast("bigint")
        .cast("double")
        .alias("num"),
    )
    return (
        num.crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n_pairs",
            (F.col("num") / F.col("denom")).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "q_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.d < b.d
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
    ), ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY cents)
      WHERE t > 1
    )
    SELECT n.n_days, s.s_stat,
           CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                - ties.tie_term AS BIGINT) AS var_num18,
           CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                  / SQRT(CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                              - ties.tie_term AS DOUBLE) / CAST(18 AS DOUBLE))
                WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                  / SQRT(CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                              - ties.tie_term AS DOUBLE) / CAST(18 AS DOUBLE))
                ELSE CAST(0 AS DOUBLE) END AS z_stat,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM n CROSS JOIN s CROSS JOIN ties
    """,
)
def q_mann_kendall(spark, sf_dir):
    """MANN-KENDALL TREND TEST over the daily-revenue series: S =
    Σ_{i<j} sign(x_j − x_i), tie-corrected variance numerator
    n(n−1)(2n+5) − Σ t(t−1)(2t+5) (kept ×18 as an exact BIGINT), and
    the continuity-corrected z — the standard non-parametric monotone-
    trend detector (Mann 1945 / Kendall 1975), used here as the "is
    revenue actually drifting" gate a forecasting pipeline runs before
    fitting anything.

    Scale shape: the fact table collapses to the DAY grain first
    (exact cents), so the pairwise sign sum runs on a CALENDAR-BOUNDED
    series (~2.4k days regardless of SF — pairs ≈ 3M, constant); the
    self-join is broadcast on one side. Everything up to the final
    sqrt/division is exact integer arithmetic."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    s = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).agg(
        F.sum(
            F.when(F.col("b.cents") > F.col("a.cents"), 1)
            .when(F.col("b.cents") < F.col("a.cents"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_num18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    ).cast("bigint")
    var_s = var_num18.cast("double") / F.lit(18).cast("double")
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / F.sqrt(var_s),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / F.sqrt(var_s),
        )
        .otherwise(F.lit(0).cast("double"))
    )
    return (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "s_stat",
            var_num18.alias("var_num18"),
            z.alias("z_stat"),
            F.when(F.col("s_stat") > 0, "increasing")
            .when(F.col("s_stat") < 0, "decreasing")
            .otherwise("no_trend")
            .alias("trend"),
        )
    )


# SURVEY.md §2.10 ML statistics: OLS TREND (least-squares revenue slope
# per order priority from one exact-integer moment pass — the regression
# surface every BI layer exposes) and EMBEDDING PCA (top principal
# component of the 64-dim embedding space via a distributed Gram pass +
# driver-side eigendecomposition — the anisotropy diagnostic run before
# building a similarity index).
#
# Exactness: OLS moments are exact BIGINT sums of centered day indices
# and cents, each ≤ 2^53 so the cast to double is value-exact, and the
# slope/intercept float chains mirror token-for-token — oracle-backed.
# PCA is rows-only (eigenvector floats are accumulation-order-sensitive)
# with an in-row Rayleigh-residual witness.


@query(
    "q_ols_trend",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS priority,
             CAST(CAST(o_orderdate AS DATE)
                  - (SELECT MIN(CAST(o_orderdate AS DATE)) FROM orders)
                  AS BIGINT) AS x,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ), m AS (
      SELECT priority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx
      FROM base GROUP BY priority
    )
    SELECT priority, n_orders,
           (n * sxy - sx * sy) / (n * sxx - sx * sx)
             AS slope_cents_per_day,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept_cents
    FROM m ORDER BY priority
    """,
)
def q_ols_trend(spark, sf_dir):
    """ORDINARY LEAST SQUARES revenue trend per order priority: the
    slope (cents/day) and intercept of o_totalprice against days since
    the first order — "is this priority class growing or shrinking" as
    one closed-form regression, the moment-pass discipline of
    q_embedding_covariance applied to the time axis.

    Exactness: x is the integer day offset from the broadcast global
    min date (centering keeps Σxy ≈ 5·10¹⁴ < 2^53, so every exact
    BIGINT moment converts to double value-exactly); slope and
    intercept are mirrored IEEE chains over those exact moments —
    bit-identical cross-engine with no decimal tricks needed.

    Scale shape: one scalar min-date subquery (broadcast), then ONE
    partial-aggregated moment scan at the priority grain (5 groups);
    closed-form division at the end. No windows, no sorts beyond the
    5-row output."""
    o = read_table(spark, sf_dir, "orders")
    d0 = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0")
    )
    base = o.crossJoin(F.broadcast(d0)).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("o_orderdate").cast("date"), F.col("d0"))
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    m = base.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").cast("double").alias("n"),
        F.sum("x").cast("bigint").cast("double").alias("sx"),
        F.sum("y").cast("bigint").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "priority",
        "n_orders",
        slope.alias("slope_cents_per_day"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept_cents"
        ),
    ).orderBy("priority")
