"""True-streaming LATENESS MONITOR — the continuous twin of
q_watermark_audit (`queries/streams.py`): per event type, maintain the
max event-time seen so far and count, for each candidate watermark
delay, the events that would have been dropped — across micro-batches,
with O(|types|) fixed-width state.

This is the monitor a production stream runs ALONGSIDE its windowed
aggregations: it answers "is my withWatermark delay still right?"
continuously, instead of re-auditing history in batch. Counts are
exactly the batch audit's when batches arrive in ingest (event_id)
order — the same per-key in-order delivery contract as
``streaming_ema`` and CDC's seq discipline, asserted bit-equal in
``tests/test_lateness_stream.py``. Like ``streaming/stateful.py`` it sets
no state timeout, so an ``availableNow`` drain ends."""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Candidate watermark delays in minutes — kept identical to the batch
#: audit so the twin assertion is cell-by-cell.
WM_DELAYS = (1, 5, 15)

_STATE_SCHEMA = (
    "max_seen_us LONG, n_events LONG, d1 LONG, d5 LONG, d15 LONG"
)
_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("dropped_1m", T.LongType(), False),
        T.StructField("dropped_5m", T.LongType(), False),
        T.StructField("dropped_15m", T.LongType(), False),
    ]
)


def _update_lateness(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    max_seen, n, d1, d5, d15 = (
        state.get if state.exists else (-1, 0, 0, 0, 0)
    )
    drops = {1: d1, 5: d5, 15: d15}
    # Materialize the whole micro-batch for this key before sorting:
    # applyInPandasWithState delivers a group's rows as multiple ~10k-row
    # Arrow chunks in arbitrary post-shuffle order, so a per-chunk sort
    # would let the carried prefix-max fold see chunks out of ingest
    # order and mis-count drops. One concat + one global event_id sort
    # restores the batch twin's contract; state stays O(1) per key.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            "event_id", kind="mergesort"
        )
        us = pdf["us"].to_numpy(dtype=np.int64)
        # Vectorized arrival-order fold: the max seen BEFORE row i is
        # max(carried max_seen, running max of us[:i]).
        prev = np.empty_like(us)
        prev[0] = max_seen
        if len(us) > 1:
            np.maximum.accumulate(us[:-1], out=prev[1:])
            np.maximum(prev[1:], max_seen, out=prev[1:])
        late = np.maximum(prev - us, 0)
        n += len(us)
        for d in WM_DELAYS:
            drops[d] += int((late > d * 60000000).sum())
        max_seen = max(max_seen, int(us.max()))
    state.update((max_seen, n, drops[1], drops[5], drops[15]))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "dropped_1m": [drops[1]],
            "dropped_5m": [drops[5]],
            "dropped_15m": [drops[15]],
        }
    )


def streaming_lateness(events: DataFrame) -> DataFrame:
    """Continuous per-type lateness/drop counters (update mode).

    Input needs columns (event_type, event_id, ts); event-time is
    folded as exact integer microseconds. State per type is FIVE
    integers regardless of stream length."""
    from pyspark.sql import functions as F

    ev = events.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return ev.groupBy("event_type").applyInPandasWithState(
        _update_lateness,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
