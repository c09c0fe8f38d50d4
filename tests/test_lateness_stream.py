"""Streaming lateness monitor ≡ batch watermark audit.

The continuous twin (`streaming/lateness.py`) folds event_id-ordered
micro-batches; its final per-type counters must equal the batch
q_watermark_audit's (n_events, n_dropped per delay) cell-by-cell —
same integer-µs arithmetic, same arrival-order semantics."""

from __future__ import annotations

import time as _time

from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.sources.readers import read_table
from self_healing_data_pipeline_spark.streaming.lateness import (
    streaming_lateness,
)


def test_streaming_lateness_matches_batch_audit(spark, sf_dir, tmp_path):
    from self_healing_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    batch_ev = read_table(spark, sf_dir, "events")
    lo, hi = batch_ev.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    span = (hi - lo) // 3 + 1
    out = str(tmp_path / "late_stream")
    # three ARRIVAL-ordered (event_id) slices as separate files with
    # increasing mod times: FileStreamSource replays them in order
    for i in range(3):
        sl = batch_ev.filter(
            (F.col("event_id") >= lo + i * span)
            & (F.col("event_id") < lo + (i + 1) * span)
        )
        sl.coalesce(1).write.mode("append").parquet(out)
        _time.sleep(1.1)
    stream_ev = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = (
        streaming_lateness(stream_ev)
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    rows = spark.sql(
        "SELECT * FROM t_late ORDER BY event_type"
    ).collect()
    # keep the LAST update per type (update mode emits one row per
    # type per batch; later rows supersede)
    got = {}
    for r in rows:
        cur = got.get(r["event_type"])
        if cur is None or r["n_events"] >= cur[0]:
            got[r["event_type"]] = (
                r["n_events"],
                r["dropped_1m"],
                r["dropped_5m"],
                r["dropped_15m"],
            )

    audit = QUERIES["q_watermark_audit"](spark, sf_dir).collect()
    want = {}
    for r in audit:
        t = r["event_type"]
        n, dropped = r["n_events"], r["n_dropped"]
        entry = want.setdefault(t, {"n": n})
        entry[int(r["delay_min"])] = dropped
    assert set(got) == set(want)
    for t, (n, d1, d5, d15) in got.items():
        assert n == want[t]["n"], t
        assert d1 == want[t][1], t
        assert d5 == want[t][5], t
        assert d15 == want[t][15], t


def test_update_fold_is_chunk_order_invariant():
    """Arrow delivers a group's micro-batch as multiple chunks in
    arbitrary post-shuffle order; the fold must concat+sort before
    folding, so any chunk permutation yields identical counters."""
    import itertools

    import pandas as pd

    from self_healing_data_pipeline_spark.streaming import lateness

    class _FakeState:
        exists = False

        def __init__(self):
            self.stored = None

        def update(self, v):
            self.stored = v

    # event_ids 1..6 in ingest order; event 4 arrives 10 min late
    # (prev max 7200s vs its own 6600s -> dropped at 1m and 5m).
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6],
            "us": [
                3600_000_000,
                7200_000_000,
                7260_000_000,
                6600_000_000,
                7320_000_000,
                7250_000_000,
            ],
        }
    )
    chunk_a, chunk_b = rows.iloc[:3], rows.iloc[3:]
    results = set()
    for perm in itertools.permutations([chunk_a, chunk_b]):
        st = _FakeState()
        list(lateness._update_lateness(("click",), list(perm), st))
        results.add(st.stored)
    assert len(results) == 1
    max_us, n, d1, d5, d15 = results.pop()
    assert (max_us, n) == (7320_000_000, 6)
    # event 4: 600s late (>1m, >5m, not >15m); event 6: 70s late (>1m)
    assert (d1, d5, d15) == (2, 1, 0)
