"""Event analytics over the events table (SURVEY.md §2.9).

Stream-shaped batch windows, sessionization, funnels, retention, paths,
attribution and activity reports.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.functions.scalar import dec, ts_str
from self_healing_data_pipeline_spark.operators.windows import sessionize
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


# Stream-shaped queries over the events table (SURVEY.md §2.9).
#
# Each is the *batch twin* of a Structured Streaming operator (the streaming
# forms — readStream + withWatermark + the same transforms — live in
# ``streaming.windows`` and are unit-tested with the rate/memory sources).
# Batch twins are DuckDB-checkable; the semantics are identical.


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """1-hour tumbling window aggregate (streaming twin adds
    withWatermark('ts', ...) and writeStream)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events
    FROM (
      SELECT e.ts,
             DATE_TRUNC('hour', e.ts)
               + (CAST(FLOOR(EXTRACT(MINUTE FROM e.ts) / 15) AS INTEGER) - 3 + o.off)
                 * INTERVAL 15 MINUTE AS win_start
      FROM events e
      CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS off) o
    )
    WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def q_stream_sliding(spark, sf_dir):
    """1-hour window sliding every 15 min — each event lands in 4 windows.
    Spark's window() generates the assignment natively; the oracle expands
    it with a cross-joined offset table."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(ts_str(F.col("w.start")).alias("window_start"), "n_events")
    )


@query(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_stream_session(spark, sf_dir):
    """Gap-based sessionization (30-min gap) — batch twin of
    session_window(ts, '30 minutes'); see operators.windows.sessionize."""
    ev = read_table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", tie_break="event_id", gap_minutes=30)
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ts_str(F.min("ts")).alias("session_start"),
            ts_str(F.max("ts")).alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("bigint").alias("session_id"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


@query(
    "q_stream_late_data",
    oracle="""
    SELECT event_id, user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
    """,
)
def q_stream_late_data(spark, sf_dir):
    """Late-data horizon as a batch query: keep events within the
    watermark delay of the stream's max event time — the batch twin of
    withWatermark's retention rule (§2.9)."""
    ev = read_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m"))
    return (
        ev.crossJoin(F.broadcast(max_ts))
        .filter(F.col("ts") >= F.col("m") - F.expr("INTERVAL 1 DAY"))
        .select("event_id", "user_id", ts_str("ts").alias("ts_s"))
    )


@query(
    "q_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           COUNT(*) AS n_prior_views
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND v.ts > c.ts - INTERVAL 30 MINUTE
     AND v.ts <= c.ts
    GROUP BY c.event_id, c.user_id, c.ts
    """,
)
def q_stream_interval_join(spark, sf_dir):
    """Equi + time-interval join (batch twin of the stream-stream join in
    streaming.windows.streaming_interval_join): each click paired with the
    same user's views in the preceding 30 minutes, reduced to a per-click
    count. The equi key (user_id) makes it a hash join with the interval
    as a post-join filter — one shuffle per side on user_id; in the
    streaming form the same bounded interval is what gives buffered rows
    a provable lifetime (state ∝ rate × interval, not stream length)."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("ts_c"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("user_id_v"), F.col("ts").alias("ts_v")
    )
    return (
        clicks.join(
            views,
            (F.col("user_id") == F.col("user_id_v"))
            & (F.col("ts_v") > F.col("ts_c") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("ts_v") <= F.col("ts_c")),
        )
        .groupBy("click_id", "user_id", "ts_c")
        .agg(F.count(F.lit(1)).alias("n_prior_views"))
        .select(
            "click_id",
            "user_id",
            ts_str("ts_c").alias("click_ts"),
            "n_prior_views",
        )
    )


@query(
    "q_events_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
           COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
             AS n_full_funnel
    FROM per_user
    """,
)
def q_events_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase): one shuffle on user_id to
    per-user first-touch times (conditional MIN), then a global conditional
    count. NULL-propagating comparisons drop users missing a step — no
    self-joins, so cost is O(events) + O(users) at any scale."""
    ev = read_table(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_view_then_click"
        ),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "q_events_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS act_week FROM events
    )
    SELECT STRFTIME(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST((EPOCH(a.act_week) - EPOCH(f.cohort_week)) / 604800 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_active_users
    FROM firsts f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark, sf_dir):
    """Weekly cohort retention: cohort = ISO week of a user's first event;
    count distinct users active N weeks later. Both inputs reduce to
    per-user / per-(user, week) rows *before* the join, so the join input
    is |users|, not |events| — the shape that survives 100 TB."""
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                (
                    F.unix_timestamp("act_week")
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@query(
    "q_events_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS cnt,
             CAST(SUM(n) AS DOUBLE) AS sx,
             CAST(SUM(n * n) AS DOUBLE) AS sxx
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, STRFTIME(h.hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
           h.n,
           (CAST(h.n AS DOUBLE) - sx / cnt)
             / SQRT(GREATEST((cnt * sxx - sx * sx)
                             / (cnt * (cnt - 1.0)), 1e-12)) AS z
    FROM hourly h JOIN m USING (event_type)
    WHERE ABS((CAST(h.n AS DOUBLE) - sx / cnt)
              / SQRT(GREATEST((cnt * sxx - sx * sx)
                              / (cnt * (cnt - 1.0)), 1e-12))) >= 2.5
    """,
)
def q_events_anomaly(spark, sf_dir):
    """Volume anomaly detection: hourly event counts per type, flag hours
    whose z-score ≥ 2.5 — the deterministic engine twin of the
    reference's LLM quality category 'Possible outliers detected'
    (geminiService.ts:64), applied to stream monitoring. Moments come
    from integer count sums (exact), so the z arithmetic is identical
    IEEE ops on both engines. Two cheap aggregations (events → hours →
    per-type moments) + a broadcast joinback of the tiny moment table —
    at 100 TB the hourly rollup is the only pass over raw data."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("n").cast("double").alias("sx"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("sxx"),
    )
    z = (F.col("n").cast("double") - F.col("sx") / F.col("cnt")) / F.sqrt(
        F.greatest(
            (F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx"))
            / (F.col("cnt") * (F.col("cnt") - F.lit(1.0))),
            F.lit(1e-12),
        )
    )
    return (
        hourly.join(F.broadcast(m), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 2.5)
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "n",
            "z",
        )
    )


# Advanced event/text analytics shapes (SURVEY.md §2.5/§2.9/§2.11):
# time-weighted averages, behavioral path mining, gaps-and-islands streak
# detection, and per-document TF-IDF ranking — the time-series/product
# analytics operators (reference `README.md:7` analysis vision) a warehouse
# engine layers over the raw event and document tables.
#
# Scale notes: every query is window-plus-aggregate over a per-key
# partition (no SinglePartition window anywhere), exact integer/decimal
# arithmetic where sums feed comparisons, and only single IEEE divisions
# for ratios — never transcendental functions whose libm builds differ
# across engines (the `q_text_docfreq` linearized-IDF convention).


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             EPOCH_US(LEAD(ts) OVER w) - EPOCH_US(ts) AS dur_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           COUNT(dur_us) AS n_spans,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           CAST(SUM(CAST(cents AS DECIMAL(20,0)) * dur_us) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE) / 100.0 AS twa_value
    FROM spans
    WHERE dur_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average (the TimescaleDB ``time_weight`` shape): each
    event's value holds until the user's next event, so the average weights
    values by how long they were current — last-observation-carried-forward
    over irregular samples. LEAD gives the span; the weighted sum runs in
    exact integers (cents × microseconds, summed as DECIMAL(38,0) so no
    bigint overflow at any scale) and only the final twa is one IEEE
    division — order-independent, cross-engine bit-stable. One window + one
    aggregate, both partitioned by user_id: shuffles once on the key."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    spans = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (
            F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        spans.groupBy("user_id")
        .agg(
            F.count("dur_us").alias("n_spans"),
            F.sum("dur_us").alias("total_us"),
            (
                F.sum(F.col("cents").cast("decimal(20,0)") * F.col("dur_us"))
                .cast("double")
                / F.sum("dur_us").cast("double")
                / 100.0
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@query(
    "q_events_top_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_id
      FROM flagged
    ), paths AS (
      SELECT user_id, session_id,
             STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 15
    """,
)
def q_events_top_paths(spark, sf_dir):
    """Behavioral path mining: the most common within-session event-type
    sequences (funnel discovery — which journeys actually happen). Reuses
    the gap-based sessionizer, then builds each session's path with an
    order-deterministic collect: sort_array over (ts, event_id, type)
    structs fixes the sequence before join — collect_list alone has no
    ordering contract under shuffle. Path strings shuffle once (grouped by
    session first, so the big shuffle carries session-grouped rows, not the
    corpus); the final top-15 is TakeOrderedAndProject, no global sort."""
    ev = read_table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", tie_break="event_id", gap_minutes=30)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(15)
    )


@query(
    "q_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), grouped AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ), islands AS (
      SELECT user_id, grp, COUNT(*) AS streak_len
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           COUNT(*) AS n_islands,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
           CAST(SUM(streak_len) AS BIGINT) AS active_days
    FROM islands
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_gaps_islands(spark, sf_dir):
    """Gaps-and-islands (activity streaks): consecutive-day runs per user
    via the classic date-minus-row_number grouping — consecutive dates map
    to one constant group key, so islands fall out of a plain aggregate
    with no self-join or iterative logic. Three stages, all partitioned by
    user_id: distinct days, one window, two aggregates — a single shuffle
    key end-to-end, no SinglePartition window."""
    ev = read_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    islands = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.max("streak_len").alias("longest_streak"),
            F.sum("streak_len").alias("active_days"),
        )
        .orderBy("user_id")
    )


@query(
    "q_events_markov",
    oracle="""
    WITH steps AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), trans AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM steps WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM trans
    ORDER BY from_type, to_type
    """,
)
def q_events_markov(spark, sf_dir):
    """First-order Markov transition matrix over user event streams
    (the behavioral-model summary behind ``q_events_top_paths``): for
    each (from, to) event-type pair, the transition count and its
    row-normalized probability. The probability is ONE IEEE division of
    two exact integer counts — order-independent, cross-engine stable.

    Plan: one user-partitioned window (LEAD), one (from, to) aggregate
    with map-side partials, one tiny window over the |types|² matrix."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wrow).cast("double")).alias(
            "p"
        ),
    ).orderBy("from_type", "to_type")


# SURVEY.md §2.9/§2.11: sequential-state ops and bounded-memory sketches
# that round out the event/corpus analytics surface — exponential moving
# averages, cumulative-distinct growth curves, Pareto frontiers,
# MATCH_RECOGNIZE-style sequence patterns, and Misra-Gries heavy hitters
# with exact verification.
#
# Scale discipline:
#
# - EMA is inherently sequential PER KEY, so it runs as per-user
#   applyInPandas (state = one float per group, groups distribute);
#   nothing is sequential across keys.
# - The growth curve's only global window runs over per-DAY rows (state
#   bounded by the calendar, not the data).
# - The Pareto frontier pre-aggregates to one row per distinct spend
#   before its global ordered pass — the window input is the dominance
#   envelope's support, not the customer table.
# - Heavy hitters never shuffle the full token stream for candidates:
#   Misra-Gries summaries (k counters per partition) guarantee a
#   candidate superset, and only candidates get exact counts.


_EMA_ALPHA = 0.2  # smoothing; 1-alpha written as literal 0.8 both engines


@query(
    "q_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT event_type, day, COUNT(*) AS n_new
      FROM first_seen GROUP BY 1, 2
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM daily ORDER BY event_type, day
    """,
)
def q_cumulative_distinct(spark, sf_dir):
    """Cumulative-distinct growth curves: distinct users ever seen, by
    day, per event type — the expanding COUNT(DISTINCT) every growth
    dashboard needs, which naive engines compute as O(days)
    self-overlapping scans. Spark-first: distinct-over-expanding-window
    decomposes into first-seen date per (type, user) (ONE hash
    aggregate) + daily new-user counts + a running sum whose window
    input is per-(type, DAY) rows — the ordered pass touches the
    calendar × 5 types regardless of event volume, partitioned by type
    (no single-partition window)."""
    e = read_table(spark, sf_dir, "events")
    first_seen = e.groupBy("event_type", "user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    daily = first_seen.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily.select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.col("n_new").cast("long").alias("n_new"),
            F.sum("n_new").over(w).cast("long").alias("cum_users"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_sequence_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             string_agg(CASE event_type
                          WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S'
                          ELSE 'E' END, ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id, CAST(CAST(ts AS DATE) AS VARCHAR)
    )
    SELECT user_id, day, LENGTH(seq) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'V[VC]*P')) AS BIGINT)
             AS n_matches,
           regexp_matches(seq, 'V[VC]*P') AS matched
    FROM seqs
    ORDER BY user_id, day
    """,
)
def q_sequence_match(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence pattern detection: per (user, day),
    does the ordered event stream contain view → (views|clicks)* →
    purchase, and how many non-overlapping times — the funnel-with-
    wildcards shape that plain funnels (q_events_funnel) can't express.
    Each stream is rendered to a one-char-per-event string via an
    order-deterministic sort_array(collect_list(struct)) (bounded by
    events/user/day), then the pattern runs as a JVM-side regex —
    leftmost non-overlapping match semantics agree between Java regex
    and RE2, witnessed by counting matches (P per match) on both
    engines. Shuffle carries (user, day, initial) triples; no text."""
    e = read_table(spark, sf_dir, "events")
    initial = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    seqs = (
        e.select(
            "user_id",
            F.col("ts").cast("date").cast("string").alias("day"),
            F.struct("ts", "event_id", initial.alias("i")).alias("ev"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.concat_ws(
                "", F.transform(F.sort_array(F.collect_list("ev")), lambda s: s["i"])
            ).alias("seq")
        )
    )
    matches = F.expr("regexp_extract_all(seq, 'V[VC]*P', 0)")
    return (
        seqs.select(
            "user_id",
            "day",
            F.length("seq").cast("long").alias("seq_len"),
            F.size(matches).cast("long").alias("n_matches"),
            (F.size(matches) > 0).alias("matched"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "q_events_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    )
    SELECT COALESCE(last_touch, 'direct') AS channel,
           COUNT(*) AS n_purchases
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY channel
    """,
)
def q_events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credited to the user's most
    recent non-purchase event before it (first event of a stream =
    'direct') — the marketing-analytics primitive behind channel ROI.
    Spark-first as a single windowed LOCF pass: ``last(..., ignorenulls)``
    over (ts, event_id) order with a 1-PRECEDING frame — no self-join,
    no per-purchase lookback scan; the window partitions by user so
    state is one value per user and work distributes with the keys.
    Both engines evaluate the identical IGNORE NULLS frame semantics."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.select("event_type", last_touch.alias("last_touch"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("last_touch"), F.lit("direct")).alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("channel")
    )


# SURVEY.md §2.9/§2.11: weight-proportional deterministic sampling,
# exact daily percentile bands, time-to-convert funnels, repeat-purchase
# cadence, and embedding int8 quantization — event/corpus analytics that
# round out the sampling + SLO + vector-prep surface.
#
# Scale discipline (same repo rules): every scalar that crosses engines
# is exact-integer or a single IEEE op on exact integers; percentile
# selection is rank-based within bounded (type, day) / per-customer
# partitions, never a global sort; the corpus-wide max for weighted
# sampling is a broadcast one-row aggregate (the repo's broadcast-scalar
# pattern), never a global window; embedding quantization runs entirely
# in JVM higher-order array functions — no Python in any hot path.


@query(
    "q_percentile_bands",
    oracle="""
    WITH ranked AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, CAST(ts AS DATE)) AS n
      FROM events
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
           MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95
    FROM ranked GROUP BY event_type, day, n
    ORDER BY event_type, day
    """,
)
def q_percentile_bands(spark, sf_dir):
    """Exact daily p50/p95 bands per event type — the SLO dashboard
    primitive, computed as EXACT discrete percentiles (the value whose
    rank is ceil(p·n)) rather than a sketch: rank selection inside
    (type, day) windows, so the ordered pass is bounded by one day's
    volume per type and parallelizes across the calendar. Boundary
    ranks in pure integer arithmetic — ceil(p·n) as (p·n + 99) // 100 —
    so no float multiply can shift a rank across engines; the returned
    percentile is a raw column value (bit-exact by construction).
    The deterministic (value, event_id) tie-break makes rank selection
    total on both engines."""
    e = read_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("event_type", day).orderBy("value", "event_id")
    wc = Window.partitionBy("event_type", day)
    ranked = e.select(
        "event_type",
        day.cast("string").alias("day"),
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        ranked.groupBy("event_type", "day", "n")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
            ).alias("p50"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(95 * n + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p95"),
        )
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n_events"),
            "p50",
            "p95",
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts) END) AS v_us,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS p_us
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT (p_us - v_us) // 60000000 AS minutes
      FROM firsts WHERE v_us IS NOT NULL AND p_us > v_us
    )
    SELECT minutes // 60 AS hours_bucket,
           COUNT(*) AS n_users,
           CAST(MIN(minutes) AS BIGINT) AS min_minutes,
           CAST(MAX(minutes) AS BIGINT) AS max_minutes,
           CAST(SUM(minutes) AS BIGINT) AS total_minutes
    FROM conv GROUP BY 1 ORDER BY hours_bucket
    """,
)
def q_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: minutes from a user's FIRST view
    to their first purchase after it, histogrammed by hour — the funnel
    velocity metric behind "how long does acquisition take". One
    conditional-min aggregate per user (no windows, no self-join), then
    exact integer microsecond arithmetic throughout: delta → minutes →
    hour bucket are all integer divisions, so no engine can disagree on
    a bucket edge. Users who purchased before ever viewing (or never
    did either) drop out by the same predicate on both engines."""
    e = read_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("v_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("p_us"),
    )
    conv = firsts.filter(
        F.col("v_us").isNotNull() & (F.col("p_us") > F.col("v_us"))
    ).select(F.expr("(p_us - v_us) div 60000000").alias("minutes"))
    return (
        conv.groupBy(F.expr("minutes div 60").alias("hours_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("minutes").cast("bigint").alias("min_minutes"),
            F.max("minutes").cast("bigint").alias("max_minutes"),
            F.sum("minutes").cast("bigint").alias("total_minutes"),
        )
        .orderBy("hours_bucket")
    )


@query(
    "q_order_cadence",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS prev_date
      FROM orders
    ), gaps AS (
      SELECT o_custkey,
             DATE_DIFF('day', prev_date, o_orderdate) AS gap_days
      FROM seq WHERE prev_date IS NOT NULL
    ), ranked AS (
      SELECT o_custkey, gap_days,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY gap_days) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM gaps
    ), med AS (
      SELECT o_custkey, gap_days AS median_gap
      FROM ranked WHERE rn = (n + 1) // 2
    )
    SELECT median_gap // 7 AS weeks_bucket,
           COUNT(*) AS n_customers,
           CAST(MIN(median_gap) AS BIGINT) AS min_days,
           CAST(MAX(median_gap) AS BIGINT) AS max_days
    FROM med GROUP BY 1 ORDER BY weeks_bucket
    """,
)
def q_order_cadence(spark, sf_dir):
    """Repeat-purchase cadence: each returning customer's MEDIAN days
    between consecutive orders, histogrammed by week — the retention
    rhythm behind replenishment and churn models. Gaps via one LAG
    window per customer (deterministic (date, orderkey) order), the
    median as exact lower-median rank selection inside the same
    per-customer partition (groups are per-key bounded — the
    ``q_dq_outlier_mad`` exact-median discipline), then a tiny bucket
    rollup. All day arithmetic is integer; the week bucket is an
    integer division, so bucket edges agree across engines exactly."""
    o = read_table(spark, sf_dir, "orders")
    wlag = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(wlag)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    wrank = Window.partitionBy("o_custkey").orderBy("gap_days")
    wcnt = Window.partitionBy("o_custkey")
    med = (
        gaps.select(
            "gap_days",
            F.row_number().over(wrank).alias("rn"),
            F.count(F.lit(1)).over(wcnt).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("gap_days").alias("median_gap"))
    )
    return (
        med.groupBy(F.expr("median_gap div 7").alias("weeks_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("median_gap").cast("bigint").alias("min_days"),
            F.max("median_gap").cast("bigint").alias("max_days"),
        )
        .orderBy("weeks_bucket")
    )


@query(
    "q_events_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
    ), coverage AS (
      SELECT user_id, d AS day
      FROM ud, UNNEST(generate_series(0, 6)) AS t(off),
           LATERAL (SELECT ud.day + CAST(off || ' days' AS INTERVAL) AS d)
      GROUP BY user_id, d
    ), wau AS (
      SELECT day, COUNT(*) AS wau FROM coverage GROUP BY day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY day
    """,
)
def q_events_stickiness(spark, sf_dir):
    """DAU / trailing-7-day WAU stickiness per day — the engagement
    ratio every growth dashboard tracks. Rolling DISTINCT doesn't
    decompose like a running sum, so the scale-safe exact form works on
    the (user, day) ACTIVE grain (already deduped — orders of magnitude
    below event grain): each active day projects onto the 7 calendar
    days it keeps the user active for (bounded ×7 explode), a distinct
    collapse per (user, covered-day), then per-day counts. Shuffles
    carry (user, day) pairs only; the ratio is one IEEE division of two
    exact counts. Days are reported only where a DAU exists (identical
    join semantics on both engines)."""
    e = read_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    coverage = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day"),
        )
        .distinct()
    )
    wau = coverage.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "q_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                  > 1800000000 OR LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_type,
             SUM(is_start) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM ordered
    ), per AS (
      SELECT user_id, session_no,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(FLOOR((EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) / 60000000.0)
                  AS BIGINT) AS duration_min,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM sess GROUP BY user_id, session_no
    )
    SELECT CAST(n_events AS BIGINT) AS session_size,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(duration_min) AS BIGINT) AS total_minutes,
           CAST(SUM(n_purchases) AS BIGINT) AS total_purchases
    FROM per GROUP BY n_events ORDER BY session_size
    """,
)
def q_sessionize(spark, sf_dir):
    """Batch SESSIONIZATION by the 30-minute inactivity rule: per-user
    LAG gap marks session starts, a running sum numbers the sessions
    (gaps-and-islands), and per-session stats roll up into a
    session-size histogram (sessions, total minutes, purchases per
    size) — the batch twin of the streaming session window
    (`q_stream_session`), sharing its 30-minute timeout.

    Plan: two windows per user partition (LAG + running sum — same
    hash(user_id) exchange, AQE-coalesced), then two partial-aggregated
    rollups. Exact integer µs arithmetic end-to-end; the histogram
    grain is bounded by max session length."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(prev.isNull() | (gap_us > 1_800_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_start"),
    )
    # same (ts, event_id) total order as the gap window — ts alone
    # would make session numbering nondeterministic on timestamp ties
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = ordered.withColumn("session_no", F.sum("is_start").over(wrun))
    per = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.floor(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 60_000_000.0
        )
        .cast("bigint")
        .alias("duration_min"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(0)
        )
        .cast("bigint")
        .alias("n_purchases"),
    )
    return (
        per.groupBy(F.col("n_events").alias("session_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("duration_min").cast("bigint").alias("total_minutes"),
            F.sum("n_purchases").cast("bigint").alias("total_purchases"),
        )
        .orderBy("session_size")
    )


# SURVEY.md §2.9/§2.11: LINEAR MULTI-TOUCH ATTRIBUTION (equal-credit
# conversion paths in exact integer micros — the fair-share complement
# of q_events_attribution's last-touch) and ENTITY RESOLUTION (record
# linkage of a deterministically dirtied customer twin back to the
# master table: blocking → candidate scoring → best-match selection).
#
# Reference scope: the catalog app's relationship-discovery vision
# (`README.md:7`, `APP/services/geminiService.ts:64` column analysis)
# covers cross-dataset identity; these are the warehouse-grade batch
# forms.


@query(
    "q_attribution_linear",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_p
      FROM events
    ), touches AS (
      SELECT user_id, event_type AS channel, cum_p AS grp,
             ROW_NUMBER() OVER (PARTITION BY user_id, cum_p
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, cum_p) AS n
      FROM e WHERE event_type NOT IN ('purchase', 'error')
    ), purch AS (
      SELECT user_id, cum_p - 1 AS grp, cents FROM e
      WHERE event_type = 'purchase'
    ), credits AS (
      SELECT COALESCE(t.channel, 'direct') AS channel,
             CASE WHEN t.user_id IS NULL THEN p.cents * 1000000
                  ELSE (p.cents * 1000000) // t.n
                       + CASE WHEN t.rn = t.n
                              THEN (p.cents * 1000000) % t.n ELSE 0 END
             END AS credit_micros
      FROM purch p LEFT JOIN touches t
        ON p.user_id = t.user_id AND p.grp = t.grp
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(credit_micros) AS BIGINT) AS credit_micros
    FROM credits GROUP BY 1 ORDER BY 1
    """,
)
def q_attribution_linear(spark, sf_dir):
    """LINEAR MULTI-TOUCH ATTRIBUTION: every purchase's revenue splits
    EQUALLY across the touches (view/click/signup — errors excluded)
    since the user's previous purchase; a touchless purchase is
    'direct'. The fair-share complement of q_events_attribution's
    last-touch rule — together they bracket channel ROI.

    Exactness is the hard part cross-engine: equal shares of cents are
    not integers, so credit is EXACT INTEGER MICROS — floor division
    of cents·10⁶ by the path length with the remainder assigned to the
    LAST touch (deterministic, and conservation holds by construction:
    per-purchase credits sum to exactly cents·10⁶; the quotient is
    computed as (a − a mod n)/n, an exactly-representable division, so
    no float-floor off-by-one can bite).

    Scale shape: conversion paths resolve with ONE running-count
    window per user (no self-join, no per-purchase lookback); the
    purchase⋈touch join is keyed on (user, path#); everything
    partial-aggregates to the bounded channel rollup. No
    SinglePartition stage."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cum = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = e.withColumn("cum_p", cum)

    wg = Window.partitionBy("user_id", "cum_p")
    touches = (
        e.filter(~F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.col("cum_p").alias("grp"),
            F.row_number().over(wg.orderBy("ts", "event_id")).alias("rn"),
            F.count(F.lit(1)).over(wg).alias("n"),
        )
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", (F.col("cum_p") - 1).alias("grp"), "cents"
    )
    j = purch.join(touches, ["user_id", "grp"], "left")
    micros = F.col("cents") * F.lit(1000000)
    rem = F.pmod(micros, F.col("n"))
    # (a - a mod n) is exactly divisible by n and < 2^53: the double
    # division below is exact, so the cast is a true integer quotient.
    quot = ((micros - rem) / F.col("n")).cast("bigint")
    credit = F.when(F.col("n").isNull(), micros).otherwise(
        quot + F.when(F.col("rn") == F.col("n"), rem).otherwise(F.lit(0))
    )
    return (
        j.select(
            F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
            credit.alias("credit_micros"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.sum("credit_micros").cast("bigint").alias("credit_micros"),
        )
        .orderBy("channel")
    )


@query(
    "q_events_heatmap",
    oracle="""
    WITH g AS (
      SELECT DAYOFWEEK(CAST(ts AS DATE)) + 1 AS dow,
             HOUR(ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g
    )
    SELECT CAST(g.dow AS BIGINT) AS dow,
           CAST(g.hour AS BIGINT) AS hour,
           g.n_events,
           CAST(g.n_events * 1000000 // t.total AS BIGINT) AS share_ppm
    FROM g, tot t
    ORDER BY dow, hour
    """,
)
def q_events_heatmap(spark, sf_dir):
    """ACTIVITY HEATMAP: the weekday × hour event grid with exact-ppm
    shares — the ops-dashboard staple that shows traffic shape at a
    glance (and the input to q_dow_seasonality-style adjustments at
    hour grain).

    Scale shape: one partial-aggregated collapse to the ≤168-cell
    grid, broadcast 1-row total, integer ppm. DuckDB's DAYOFWEEK is
    0-based → +1 aligns with Spark (the q_dow_seasonality
    convention)."""
    e = read_table(spark, sf_dir, "events")
    g = e.groupBy(
        F.dayofweek(F.col("ts").cast("date")).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    tot = g.agg(F.sum("n_events").cast("bigint").alias("total"))
    scaled = F.col("n_events") * F.lit(1000000)
    ppm = ((scaled - F.pmod(scaled, F.col("total"))) / F.col("total")).cast(
        "bigint"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select("dow", "hour", "n_events", ppm.alias("share_ppm"))
        .orderBy("dow", "hour")
    )


@query(
    "q_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS bar_hour,
             ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), ordered AS (
      SELECT bar_hour, cents,
             ROW_NUMBER() OVER (PARTITION BY bar_hour
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY bar_hour
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT bar_hour,
           CAST(MIN(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
           CAST(MAX(cents) AS BIGINT) AS high,
           CAST(MIN(cents) AS BIGINT) AS low,
           CAST(MIN(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(SUM(cents) AS BIGINT) AS volume_cents
    FROM ordered
    GROUP BY bar_hour
    ORDER BY bar_hour
    """,
)
def q_ohlc_bars(spark, sf_dir):
    """OHLC CANDLES: hourly open/high/low/close/count/volume bars over
    purchase-event values — the downsampling operator every metrics
    store and tick pipeline runs. Open/close are the first/last value
    by (ts, event_id) within the bar (composite tie-break = total
    order = deterministic bars).

    Scale shape: open/close come from ONE min/max over (ts, event_id,
    cents) structs — an ordinary partial-aggregated groupBy at bar
    grain, no within-bar window, no shuffle beyond the bar key (the
    oracle keeps the row_number formulation; struct min ≡ first by
    the same total order). Bars-per-partition is bounded by the time
    range, and the aggregate is map-side combinable."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "purchase").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("bar_hour"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    first_s = F.min(F.struct("ts", "event_id", "cents"))
    last_s = F.max(F.struct("ts", "event_id", "cents"))
    return (
        e.groupBy("bar_hour")
        .agg(
            first_s.getField("cents").cast("bigint").alias("open"),
            F.max("cents").cast("bigint").alias("high"),
            F.min("cents").cast("bigint").alias("low"),
            last_s.getField("cents").cast("bigint").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            F.sum("cents").cast("bigint").alias("volume_cents"),
        )
        .orderBy("bar_hour")
    )


@query(
    "q_new_vs_returning",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_date
      FROM orders GROUP BY 1
    ), tagged AS (
      SELECT STRFTIME(o.o_orderdate, '%Y-%m') AS order_month,
             (o.o_orderdate = f.first_date) AS is_first,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             o.o_custkey
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT order_month,
           CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
             AS new_orders,
           CAST(SUM(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT)
             AS returning_orders,
           CAST(COUNT(DISTINCT CASE WHEN is_first THEN o_custkey END)
             AS BIGINT) AS new_customers,
           CAST(SUM(CASE WHEN is_first THEN cents ELSE 0 END) AS BIGINT)
             AS new_cents,
           CAST(SUM(CASE WHEN is_first THEN 0 ELSE cents END) AS BIGINT)
             AS returning_cents
    FROM tagged
    GROUP BY order_month
    ORDER BY order_month
    """,
)
def q_new_vs_returning(spark, sf_dir):
    """NEW VS RETURNING: each month's order count and revenue split by
    whether the order shares the customer's first-ever order date (all
    same-day first orders count as "new" — deterministic without an
    intra-day tie-break, which the fixture's date-grain timestamps
    couldn't support anyway). The acquisition-vs-retention growth
    panel, month over month.

    Scale shape: one customer-grain MIN aggregate joined back on the
    customer key (both sides shuffle-partitioned the same way — AQE
    plans one exchange each), then one month-grain conditional
    rollup. No window; the distinct new-customer count expands
    two-level (month, custkey) partial aggregation."""
    orders = read_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_date")
    )
    tagged = orders.join(firsts, "o_custkey").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        (F.col("o_orderdate") == F.col("first_date")).alias("is_first"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_custkey",
    )
    return (
        tagged.groupBy("order_month")
        .agg(
            F.sum(F.when(F.col("is_first"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_orders"),
            F.sum(F.when(F.col("is_first"), 0).otherwise(1))
            .cast("bigint")
            .alias("returning_orders"),
            F.countDistinct(
                F.when(F.col("is_first"), F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("new_customers"),
            F.sum(F.when(F.col("is_first"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(F.when(F.col("is_first"), 0).otherwise(F.col("cents")))
            .cast("bigint")
            .alias("returning_cents"),
        )
        .orderBy("order_month")
    )


_MIN_GAPS = 10


@query(
    "q_bot_regularity",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             -- second-boundary diff (matches Spark's unix_timestamp
             -- truncation), floor-divided to whole minutes
             CAST(DATE_DIFF('second', LAG(ts) OVER w, ts) AS BIGINT) // 60
               AS gap_min
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id,
             CAST(COUNT(gap_min) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_min) AS BIGINT) AS sum_gap,
             CAST(SUM(gap_min * gap_min) AS BIGINT) AS sum_sq
      FROM g WHERE gap_min IS NOT NULL
      GROUP BY 1
      HAVING COUNT(gap_min) >= {_MIN_GAPS} AND SUM(gap_min) > 0
    )
    SELECT user_id, n_gaps, sum_gap,
           CAST(n_gaps * sum_sq - sum_gap * sum_gap AS BIGINT) AS var_num,
           (100 * (n_gaps * sum_sq - sum_gap * sum_gap)
              < sum_gap * sum_gap) AS bot_like,
           CAST(n_gaps * sum_sq - sum_gap * sum_gap AS DOUBLE)
             / (CAST(sum_gap AS DOUBLE) * CAST(sum_gap AS DOUBLE)) AS cv2
    FROM s
    ORDER BY cv2, user_id LIMIT 20
    """,
)
def q_bot_regularity(spark, sf_dir):
    """BOT-REGULARITY screen: users whose inter-event gaps are too
    regular to be human — coefficient of variation cv = σ/μ of the
    per-user gap series, flagged when cv < 0.1. The verdict is an
    EXACT integer cross-multiplication: cv² < 0.01 ⟺ 100·(nΣg² −
    (Σg)²) < (Σg)² — no float touches the flag; the reported cv² is
    a mirrored IEEE ratio used only for the top-20 ordering (with
    user_id tie-break). Gaps in whole MINUTES keep nΣg² under the
    2^53 correct-rounding fence at any realistic per-user rate.

    Scale shape: one per-user lag window (the sessionize shuffle),
    one user-grain raw-moment aggregate — raw moments suffice here
    because gaps are small integers, so no centering pass is needed.
    TakeOrdered(20) for the report."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.floor(
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            )
            / 60
        )
        .cast("bigint")
        .alias("gap_min"),
    )
    s = (
        g.where(F.col("gap_min").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_min").cast("bigint").alias("n_gaps"),
            F.sum("gap_min").cast("bigint").alias("sum_gap"),
            F.sum(F.col("gap_min") * F.col("gap_min"))
            .cast("bigint")
            .alias("sum_sq"),
        )
        .where((F.col("n_gaps") >= _MIN_GAPS) & (F.col("sum_gap") > 0))
    )
    var_num = F.col("n_gaps") * F.col("sum_sq") - F.col("sum_gap") * F.col(
        "sum_gap"
    )
    return (
        s.select(
            "user_id",
            "n_gaps",
            "sum_gap",
            var_num.cast("bigint").alias("var_num"),
            (
                100 * var_num < F.col("sum_gap") * F.col("sum_gap")
            ).alias("bot_like"),
            (
                var_num.cast("double")
                / (
                    F.col("sum_gap").cast("double")
                    * F.col("sum_gap").cast("double")
                )
            ).alias("cv2"),
        )
        .orderBy("cv2", "user_id")
        .limit(20)
    )


# SURVEY.md §2.9 behavioral / §2.10 ML features: SESSION CO-OCCURRENCE
# LIFT (which event types happen together within a session more than
# chance — the behavioral association table, computed on 30-minute gap
# sessions) and the FEATURE-HASHING COLLISION AUDIT (the hashing-trick
# preflight: which buckets of a D=256 hashed cross-feature space
# collide, and what share of raw crosses lose identity — the audit run
# before shipping hashed features to a model).
#
# Exactness: session ids come from integer µs gap comparisons; all
# supports/counts are exact BIGINTs; lift is one final float chain.
# Bucket ids parse the md5 prefix with the same position-in-hex-alphabet
# arithmetic on both engines (no engine-specific hash).


_GAP_US = 1800 * 1_000_000  # 30-minute session gap
_MIN_PAIR = 5  # report pairs co-occurring in >= 5 sessions


@query(
    "q_session_cooccurrence",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, EPOCH_US(ts) AS us FROM events
    ), flagged AS (
      SELECT event_id, user_id, event_type, us,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id)
                       > {_GAP_US} OR
                  LAG(us) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), sess AS (
      SELECT user_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    ), st AS (
      SELECT DISTINCT user_id, sid, event_type FROM sess
    ), n AS (
      SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS n_sessions
      FROM st
    ), supp AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both, sa.n AS n_a, sb.n AS n_b,
           CAST(n.n_sessions AS DOUBLE) * CAST(n_both AS DOUBLE)
             / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
    FROM pairs
    JOIN supp sa ON type_a = sa.event_type
    JOIN supp sb ON type_b = sb.event_type
    CROSS JOIN n
    WHERE n_both >= {_MIN_PAIR}
    ORDER BY type_a, type_b
    """,
)
def q_session_cooccurrence(spark, sf_dir):
    """SESSION CO-OCCURRENCE LIFT: event-type pairs that land in the
    same 30-minute-gap session, with lift = N·n(a,b) / (n(a)·n(b)) —
    the behavioral association table ("users who hit errors in a
    session also convert 0.4× as often") that q_basket_pairs computes
    for order baskets, here on sessionized clickstream.

    Scale shape: sessionization is the per-user lag/cumsum window
    (parallel across users, the q_sessionize shape) on exact integer
    microseconds; sessions collapse to the DISTINCT (session, type)
    grain — bounded at |sessions|·|types| with ≤9 types — so the
    pair self-join fans out at most 9× per session row and supports/
    totals are one partial-aggregated pass each. Lift divides three
    exact integers in one fixed-order float chain."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # (us, event_id) total order: ts ties would otherwise make session
    # numbering engine-dependent (same rule as q_sessionize)
    wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            (F.col("us") - F.lag("us").over(wl) > _GAP_US)
            | F.lag("us").over(wl).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    st = sess.select("user_id", "sid", "event_type").distinct()
    n = st.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    supp = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    b = st.select(
        F.col("user_id").alias("u2"),
        F.col("sid").alias("sid2"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        st.join(
            b,
            (st.user_id == b.u2)
            & (st.sid == b.sid2)
            & (st.event_type < b.type_b),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= _MIN_PAIR)
    )
    sa = supp.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = supp.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_sessions").cast("double")
                * F.col("n_both").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# SURVEY.md §2.9 / §2.11 stream + corpus analytics: trailing-window
# distinct actives (the rolling-DAU shape every event warehouse serves),
# audience overlap between event types (exact Jaccard at user grain),
# hashing-trick token features (the fixed-width featurizer training
# pipelines use when vocabularies are unbounded), and burst-minute
# detection (rate anomaly vs an exact median baseline).
#
# Exactness: all counts are exact integers; day/minute grains are
# integer µs division (`EPOCH_US // k` ↔ `unix_micros div k` — the
# fixture's nanos→µs convention); shares/ratios are ONE final IEEE
# division of exact longs.


_DAY_US = 86_400_000_000
_MIN_US = 60_000_000


def _day(col):
    return F.expr(f"unix_micros(cast({col} as timestamp)) div {_DAY_US}")


@query(
    "q_rolling_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT EPOCH_US(ts) // {_DAY_US} AS day, user_id FROM events
    ), days AS (
      SELECT UNNEST(generate_series((SELECT MIN(day) FROM ud),
                                    (SELECT MAX(day) FROM ud))) AS day
    )
    SELECT d.day AS day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
)
def q_rolling_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day (rolling DAU/WAU —
    the metric every event warehouse serves). Distinct counts don't
    merge across windows, so the naive form rescans the stream per
    day; the scale-safe decomposition here is: dedup to (day, user)
    grain ONCE, fan each user-day out to the ≤7 window days it
    contributes to (a bounded explode — shuffle is 7× user-days, tiny
    vs the event stream), then one exact COUNT(DISTINCT) per day. The
    report covers EVERY calendar day in [min_day, max_day] — a gap day
    still has a trailing-window count from the days before it (the
    convention the streaming twin shares, so finalized stream windows
    and batch rows are 1:1; only all-empty windows are absent from
    both).

    The oracle computes the same windows with a range join — at
    fixture scale DuckDB can; the explode form is what survives when
    user-days alone are billions."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.select(_day("ts").alias("day"), "user_id").distinct()
    bounds = ud.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    fanned = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("day"),
        "user_id",
    )
    return (
        fanned.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("hi"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .orderBy("day")
    )


@query(
    "q_type_user_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a AS type_a, i.type_b AS type_b, i.n_both AS n_both,
           sa.n + sb.n - i.n_both AS n_union,
           CAST(i.n_both AS DOUBLE) / CAST(sa.n + sb.n - i.n_both AS DOUBLE)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
)
def q_type_user_overlap(spark, sf_dir):
    """Audience overlap between event types: exact pairwise Jaccard of
    user populations (|A∩B| / |A∪B|) — the "do purchasers also
    search?" audience question, and the exact ground truth the MinHash
    machinery elsewhere estimates. Dedup to (type, user) grain first,
    self-join on user (the event-type domain is bounded, so fan-out
    per user is ≤ |types|²), intersection counts per ordered pair,
    union by inclusion–exclusion from broadcast per-type sizes —
    integers end-to-end, one final IEEE division."""
    ev = read_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("na"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("nb"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("na") + F.col("nb") - F.col("n_both")).alias("n_union"),
            (
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_events_burst_minutes",
    oracle=f"""
    WITH pm AS (
      SELECT EPOCH_US(ts) // {_MIN_US} AS minute,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), med AS (
      SELECT n AS median_n FROM (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n, minute) AS r,
               COUNT(*) OVER () AS c
        FROM pm
      ) WHERE r = (c + 1) // 2
    )
    SELECT pm.minute AS minute, pm.n AS n, med.median_n AS median_n,
           pm.n > 3 * med.median_n AS is_burst
    FROM pm, med
    ORDER BY pm.n DESC, pm.minute
    LIMIT 5
    """,
)
def q_events_burst_minutes(spark, sf_dir):
    """Burst detection: the top-5 hottest minutes with their exact
    median baseline and an ``is_burst`` flag (count > 3× the median
    minute-count — median, not mean, so the baseline itself is
    burst-robust; the rate-anomaly gate a feed monitor runs). Emitting
    the ranked hot minutes rather than a bare filter keeps the key
    signal-bearing at every SF — a quiet stream reports its hottest
    minutes with is_burst=false instead of an empty frame. The minute
    grain bounds the aggregate frame by the time range, the median is
    an exact lower-median rank selection over that bounded frame, and
    the threshold broadcasts back — the event stream is scanned
    exactly once."""
    ev = read_table(spark, sf_dir, "events")
    pm = (
        ev.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_MIN_US}").alias(
                "minute"
            )
        )
        .groupBy("minute")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # global rank over the MINUTE frame only — bounded by the time
    # range (one month ≈ 44k rows at any corpus size), so the single
    # partition is metadata-grain, never data-grain
    w = Window.orderBy("n", "minute")
    med = (
        pm.select(
            "n",
            F.row_number().over(w).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
        )
        .filter(F.col("r") == F.expr("(c + 1) div 2"))
        .select(F.col("n").alias("median_n"))
    )
    return (
        pm.crossJoin(F.broadcast(med))
        .select(
            "minute",
            "n",
            "median_n",
            (F.col("n") > 3 * F.col("median_n")).alias("is_burst"),
        )
        .orderBy(F.desc("n"), F.asc("minute"))
        .limit(5)
    )


_T_US = 1_800_000_000  # 30-minute inactivity timeout, µs


_SESSIONIZE_ORACLE = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                  > 1800000000 OR LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_type,
             SUM(is_start) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM ordered
    ), per AS (
      SELECT user_id, session_no,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(FLOOR((EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) / 60000000.0)
                  AS BIGINT) AS duration_min,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM sess GROUP BY user_id, session_no
    )
    SELECT CAST(n_events AS BIGINT) AS session_size,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(duration_min) AS BIGINT) AS total_minutes,
           CAST(SUM(n_purchases) AS BIGINT) AS total_purchases
    FROM per GROUP BY n_events ORDER BY session_size
"""


@query("q_sessionize_twophase", oracle=_SESSIONIZE_ORACLE)
def q_sessionize_twophase(spark, sf_dir):
    """CHUNKED TWO-PHASE SESSIONIZATION — result-identical to
    q_sessionize (the oracle IS q_sessionize's oracle, so the hash
    gate proves plan equivalence), but no window partition ever holds
    more than one (user, DAY) of events, so a user owning 20% of the
    stream costs its largest day, not its whole timeline (the skew
    mitigation measured as needed by the sf1-skew tier):

    1. within (user, day-bucket): the usual LAG-gap session starts and
       a local running session number;
    2. per (user, bucket) summary (n_starts, first/last µs) — a frame
       at user×active-day grain, orders of magnitude below events;
    3. boundary stitch on that SUMMARY frame: a bucket's first session
       merges backward iff the gap to the previous non-empty bucket's
       last event ≤ timeout; a prefix sum of (n_starts − merge) gives
       each bucket its global session offset, and
       global_no = offset_prev + local_no − merge — consistent across
       any chain of all-day sessions because the merged bucket's first
       session number equals exactly the previous bucket's last;
    4. per-session aggregates merge across bucket parts (count/min/
       max/sum are mergeable), then the same histogram rollup.

    Every events-grain window is (user, bucket)-partitioned; the only
    per-user ordered pass runs on the bucket-grain summary."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id", "ts", "event_id", "event_type", us.alias("us"),
        (us - us % _DAY_US).alias("bucket"),
    )
    wb = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    prev_us = F.lag("us").over(wb)
    is_start = (
        F.when(prev_us.isNull() | (F.col("us") - prev_us > _T_US), 1)
        .otherwise(0)
    )
    local = e.select(
        "user_id", "bucket", "ts", "event_id", "event_type", "us",
        is_start.alias("is_start"),
    ).withColumn(
        "local_no",
        F.sum("is_start").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
    )
    bsum = local.groupBy("user_id", "bucket").agg(
        F.sum("is_start").alias("n_starts"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
    )
    wub = Window.partitionBy("user_id").orderBy("bucket")
    prev_last = F.lag("last_us").over(wub)
    merged = bsum.withColumn(
        "merge",
        F.when(
            prev_last.isNotNull()
            & (F.col("first_us") - prev_last <= _T_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "offset_prev",
        F.coalesce(
            F.sum(F.col("n_starts") - F.col("merge")).over(
                wub.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    sess = local.join(
        merged.select("user_id", "bucket", "merge", "offset_prev"),
        ["user_id", "bucket"],
    ).withColumn(
        "session_no",
        F.col("offset_prev") + F.col("local_no") - F.col("merge"),
    )
    per = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.floor((F.max("us") - F.min("us")) / 60_000_000.0)
        .cast("bigint")
        .alias("duration_min"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(0)
        )
        .cast("bigint")
        .alias("n_purchases"),
    )
    return (
        per.groupBy(F.col("n_events").alias("session_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("duration_min").cast("bigint").alias("total_minutes"),
            F.sum("n_purchases").cast("bigint").alias("total_purchases"),
        )
        .orderBy("session_size")
    )
