"""Structured Streaming twins of the batch event queries (SURVEY.md §2.9).

Each function takes a *streaming* DataFrame (``spark.readStream...``) with
an event-time column and returns the transformed streaming DataFrame; the
caller attaches ``writeStream``. Event-time columns are cast to
TIMESTAMP (LTZ) up front: Spark watermarks require instants, not NTZ. The transformations are the SAME
DataFrame expressions as the batch queries in ``queries/events.py`` — that
equivalence is the point: batch twins are oracle-checkable, and these give
the continuous form with watermarked state eviction.

Unit tests drive them with the file/memory sources (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_tumbling_counts(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts with late-data handling via watermark
    (state for a window is dropped once event time passes end+watermark)."""
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("w"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), key, "n_events", "total_value")
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_l: str = "ts_l",
    ts_r: str = "ts_r",
    lower: str = "INTERVAL 30 MINUTES",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream equi + time-interval join: pair each left event with
    right events of the same key whose timestamp falls in
    ``(ts_l - lower, ts_l]``.

    Column contract: the left side exposes ``key`` and ``ts_l``; the right
    side exposes ``f"{key}_r"`` and ``ts_r`` (suffixed so the joined frame
    has no ambiguous names). A naturally-named right side (bare ``key``)
    is accepted and renamed internally.

    Both sides carry a watermark and the join condition bounds event time
    in BOTH directions — that is what lets Spark evict buffered rows
    instead of holding unbounded state (the interval gives the engine a
    provable lifetime for every buffered row). The same expression runs
    as a batch interval join (``queries/events.py::q_stream_interval_join``),
    which is the oracle-checkable twin.

    At scale the join shuffles both streams on ``key``; state per task is
    bounded by (rate × interval), independent of total stream length.
    """
    left = left.withColumn(ts_l, F.col(ts_l).cast("timestamp")).withWatermark(
        ts_l, watermark
    )
    if f"{key}_r" not in right.columns and key in right.columns:
        right = right.withColumnRenamed(key, f"{key}_r")
    right = right.withColumn(ts_r, F.col(ts_r).cast("timestamp")).withWatermark(
        ts_r, watermark
    )
    cond = (
        (left[key] == right[f"{key}_r"])
        & (right[ts_r] > left[ts_l] - F.expr(lower))
        & (right[ts_r] <= left[ts_l])
    )
    return left.join(right, cond)


def streaming_sliding_counts(
    events: DataFrame,
    ts: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def streaming_session_agg(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Native session windows (dynamic gap-close) — the streaming form of
    operators.windows.sessionize."""
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming dedup bounded by watermark — the continuous form
    of the keep-first batch query (state is evicted after the watermark,
    so memory is bounded by the dedup horizon, not the stream length)."""
    keys = keys or ["user_id", "event_type"]
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return events.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_ohlc_bars(
    events: DataFrame,
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    event_filter: str = "purchase",
) -> DataFrame:
    """Continuous OHLC CANDLES — the streaming twin of
    ``queries/events.py::q_ohlc_bars``: per tumbling hour,
    open/high/low/close/count/volume over purchase-event values, with
    open/close resolved by min/max over (ts, event_id, cents) structs
    — the SAME total-order aggregate as the batch query, so on-time
    replay produces bit-identical bars (asserted in
    ``tests/test_streaming.py``).

    Because open/close are plain min/max aggregates (not positional
    window functions), the bar state is fixed-width per (window) key
    and merges associatively across micro-batches — late rows within
    the watermark update a bar exactly as the batch form would have;
    rows later than the watermark are dropped once the bar is final.
    State per task is bounded by bars-in-horizon, not stream length."""
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    e = events.filter(F.col("event_type") == event_filter).select(
        F.col(ts),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    first_s = F.min(F.struct(ts, "event_id", "cents"))
    last_s = F.max(F.struct(ts, "event_id", "cents"))
    return (
        e.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"))
        .agg(
            first_s.getField("cents").cast("bigint").alias("open"),
            F.max("cents").cast("bigint").alias("high"),
            F.min("cents").cast("bigint").alias("low"),
            last_s.getField("cents").cast("bigint").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            F.sum("cents").cast("bigint").alias("volume_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bar_hour"
            ),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "volume_cents",
        )
    )


def streaming_rolling_actives(
    events: DataFrame,
    ts: str = "ts",
    user: str = "user_id",
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Continuous trailing-window distinct actives — the streaming twin
    of ``q_rolling_active_users`` (rolling DAU/WAU): each finalized
    sliding window reports how many distinct users were active in it.

    Streaming forbids COUNT(DISTINCT), so the exact form is CHAINED
    windowed aggregations (a Spark 4 multiple-stateful-operator plan,
    append mode): first collapse to (window, user) grain — the same
    dedup-then-count decomposition the batch query uses — then count
    rows per finalized window. State is (window × active user) keys,
    evicted by the watermark as each window closes; the sliding
    ``window()`` fans each event into window/slide rows exactly like
    the batch form's bounded explode.

    Append-mode caveats (inherent): a window emits only once the
    watermark passes its END, so the trailing partial windows of a
    bounded replay stay unemitted — the batch twin is the source of
    truth for the open tail — and events later than the watermark
    delay are DROPPED from their windows (the default tolerates a full
    day of lateness, matching the slide grain; tighten it only when
    the feed is near-ordered)."""
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    w = F.window(F.col(ts), window, slide)
    per_user = (
        events.withWatermark(ts, watermark)
        .groupBy(w.alias("w"), F.col(user))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        per_user.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "active_users",
        )
    )
