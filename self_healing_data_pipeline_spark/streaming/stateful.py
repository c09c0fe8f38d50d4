"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.9/§2.10 — the extension point for operators Spark's built-in
streaming aggregates can't express).

``running_user_stats`` keeps per-key running (count, sum, max) across
micro-batches and emits one updated row per key per batch — the canonical
"custom accumulator" shape. State is a fixed-width tuple per key, so
memory is O(|keys|) on an unbounded stream.

Neither operator sets a state timeout. A key's state is its full-history
total, which is what the batch twins compute; evicting an idle key would
restart its count from zero. A processing-time timeout also makes Spark
run a no-data micro-batch on every trigger to look for expired keys, so
a ``trigger(availableNow=True)`` drain never ends.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "count LONG, total DOUBLE, max_val DOUBLE"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
        T.StructField("max_value", T.DoubleType(), False),
    ]
)


def _update_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    count, total, max_val = (
        state.get if state.exists else (0, 0.0, float("-inf"))
    )
    for pdf in pdfs:
        count += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            max_val = max(max_val, float(pdf["value"].max()))
    state.update((count, total, max_val))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [count],
            "total_value": [total],
            "max_value": [max_val],
        }
    )


def running_user_stats(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key running stats over an unbounded stream (update mode)."""
    from pyspark.sql import functions as F

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.groupBy(key)
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EMA_STATE_SCHEMA = "ema DOUBLE, n LONG, last DOUBLE"
EMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("last_value", T.DoubleType(), True),
        T.StructField("ema_last", T.DoubleType(), True),
    ]
)


def _update_ema(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold this batch's rows (event-time order) into the running EMA.

    The recurrence is the SAME two-multiply-one-add expression as the
    batch twin (queries/forecast.q_ema) and its DuckDB recursive-CTE
    oracle, so a stream that delivers batches in event-time order
    reproduces the batch result bit-for-bit."""
    ema, n, last = state.get if state.exists else (None, 0, None)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    rows = (
        pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        if chunks
        else pd.DataFrame({"value": []})
    )
    for x in rows["value"]:
        x = float(x)
        ema = x if ema is None else 0.8 * ema + 0.2 * x
        last = x
        n += 1
    state.update((ema, n, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "last_value": [last],
            "ema_last": [ema],
        }
    )


def streaming_ema(events: DataFrame, key: str = "user_id") -> DataFrame:
    """True-streaming twin of ``q_ema``: per-key exponential moving
    average maintained across micro-batches via applyInPandasWithState.

    State per key is THREE scalars (ema, count, last) — O(|keys|)
    memory on an unbounded stream. Rows are folded in (ts, event_id)
    order WITHIN each batch; like every
    sequential recurrence, cross-batch correctness requires the source
    to deliver batches in non-decreasing event time per key (file
    sources replaying history in file order, or a log keyed+ordered per
    partition — the Kafka per-partition guarantee). Handling arbitrary
    cross-batch disorder would need a watermark-bounded reorder buffer
    in state; documented out of scope, same discipline as CDC's seq
    requirement (streaming/cdc.py)."""
    from pyspark.sql import functions as F

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.groupBy(key).applyInPandasWithState(
        _update_ema,
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
