"""Structured Streaming twin tests: drive the streaming transforms with a
file source reading the events fixture and assert equivalence with the
batch forms (rows-only semantics, SURVEY.md §2.9)."""

from __future__ import annotations

import pytest

from self_healing_data_pipeline_spark.sources.readers import read_table
from self_healing_data_pipeline_spark.streaming.windows import (
    streaming_dedup,
    streaming_session_agg,
    streaming_tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream_path(spark, sf_dir, tmp_path_factory):
    # Re-materialize events as µs-timestamp parquet a stream can read.
    out = str(tmp_path_factory.mktemp("stream") / "events")
    read_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _run_stream(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if sdf.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream_path):
    batch_ev = read_table(spark, sf_dir, "events")
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(events_stream_path)
    out = _run_stream(
        spark, streaming_tumbling_counts(stream_ev), "t_tumbling"
    )
    got = out.groupBy().sum("n_events").collect()[0][0]
    assert got == batch_ev.count()  # every event lands in exactly one window


def test_streaming_session_agg_runs(spark, events_stream_path, sf_dir):
    batch_ev = read_table(spark, sf_dir, "events")
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(events_stream_path)
    out = _run_stream(spark, streaming_session_agg(stream_ev), "t_session")
    assert out.count() > 0
    r = out.first()
    assert r["session_end"] >= r["session_start"]


def test_stateful_running_stats_matches_batch(spark, events_stream_path, sf_dir):
    from pyspark.sql import functions as F

    from self_healing_data_pipeline_spark.streaming.stateful import (
        running_user_stats,
    )

    batch_ev = read_table(spark, sf_dir, "events")
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(events_stream_path)
    q = (
        running_user_stats(stream_ev)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    # last update per key == full-history aggregate
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) AS rn
                 FROM t_stateful
               ) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in batch_ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_incremental_ingest_exactly_once(spark, tmp_path):
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.streaming.ingest import (
        incremental_ingest,
        ingested_table,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    dest = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    (src / "batch1.csv").write_text("id,v\n1,1.5\n2,2.5\n")
    incremental_ingest(spark, str(src), dest, ckpt, schema)
    assert ingested_table(spark, dest).count() == 2

    # second batch arrives; re-run ingests ONLY the new file
    (src / "batch2.csv").write_text("id,v\n3,3.5\n")
    incremental_ingest(spark, str(src), dest, ckpt, schema)
    out = ingested_table(spark, dest)
    assert out.count() == 3  # batch1 not double-loaded
    assert {r["id"] for r in out.collect()} == {1, 2, 3}

    # idempotent: a run with nothing new appends nothing
    incremental_ingest(spark, str(src), dest, ckpt, schema)
    assert ingested_table(spark, dest).count() == 3


def test_streaming_interval_join_matches_batch(spark, sf_dir, events_stream_path):
    from self_healing_data_pipeline_spark.registry import QUERIES, load_all
    from self_healing_data_pipeline_spark.streaming.windows import (
        streaming_interval_join,
    )

    load_all()

    batch_ev = read_table(spark, sf_dir, "events")
    clicks = (
        spark.readStream.schema(batch_ev.schema)
        .parquet(events_stream_path)
        .filter("event_type = 'click'")
        .selectExpr("event_id AS click_id", "user_id", "ts AS ts_l")
    )
    views = (
        spark.readStream.schema(batch_ev.schema)
        .parquet(events_stream_path)
        .filter("event_type = 'view'")
        .selectExpr("user_id AS user_id_r", "ts AS ts_r")
    )
    joined = streaming_interval_join(clicks, views)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_interval")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("t_interval")
        .groupBy("click_id")
        .count()
        .withColumnRenamed("count", "n_prior_views")
    )
    want = QUERIES["q_stream_interval_join"](spark, sf_dir).select(
        "click_id", "n_prior_views"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0  # identical per-click counts


def test_ingest_with_quarantine_routes_and_resumes(spark, tmp_path):
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.streaming.ingest import (
        incremental_ingest_with_quarantine,
    )

    src = tmp_path / "feed"
    src.mkdir()
    dest = str(tmp_path / "table")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    (src / "page1.json").write_text(
        '{"id": 1, "name": "a", "v": 1.5}\n'
        '{"id": 2, "name": "b", "v": 2.5}\n'
        "{this is not json at all\n"           # malformed → quarantine
        '{"id": null, "name": "c", "v": 3.5}\n'  # missing required → quarantine
    )
    incremental_ingest_with_quarantine(
        spark, str(src), dest, quar, ckpt, schema, fmt="json", required=["id"]
    )
    good = spark.read.parquet(dest)
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert "_ingested_at" in good.columns
    bad = spark.read.parquet(quar)
    reasons = sorted(r["reason"] for r in bad.collect())
    assert reasons == ["malformed", "missing_required_field"]
    raw = {r["reason"]: r["raw_record"] for r in bad.collect()}
    assert raw["malformed"].startswith("{this is not json")
    assert '"name":"c"' in raw["missing_required_field"].replace(" ", "")

    # a new page arrives; re-run ingests ONLY the new file (checkpointed)
    (src / "page2.json").write_text('{"id": 3, "name": "d", "v": 4.5}\n')
    incremental_ingest_with_quarantine(
        spark, str(src), dest, quar, ckpt, schema, fmt="json", required=["id"]
    )
    assert {r["id"] for r in spark.read.parquet(dest).collect()} == {1, 2, 3}
    assert spark.read.parquet(quar).count() == 2  # quarantine not re-appended


def test_streaming_dedup_bounded_state(spark, events_stream_path, sf_dir):
    batch_ev = read_table(spark, sf_dir, "events")
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(events_stream_path)
    dedup = streaming_dedup(stream_ev, keys=["user_id", "event_type"])
    q = (
        dedup.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_dedup")
    n_keys = batch_ev.select("user_id", "event_type").distinct().count()
    # dropDuplicatesWithinWatermark keeps ≥ one row per key (watermark may
    # admit re-emission across far-apart event times, never fewer).
    assert got.count() >= n_keys
    assert got.select("user_id", "event_type").distinct().count() == n_keys


def test_stream_static_enrichment_join(spark, sf_dir, events_stream_path):
    """Stream-static join: a streaming fact enriched by a static dimension
    (the broadcast-enrichment pattern — no state, no watermark needed;
    the static side re-reads per micro-batch)."""
    from pyspark.sql import functions as F

    batch_ev = read_table(spark, sf_dir, "events")
    dim = (
        batch_ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(events_stream_path)
    enriched = stream_ev.join(dim, "user_id").select(
        "event_id", "user_id", "user_total"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("t_enrich")
    assert out.count() == batch_ev.count()  # every event enriched
    # enrichment value is consistent with the static aggregate
    chk = out.groupBy("user_id", "user_total").count()
    bad = chk.filter(F.col("count") != F.col("user_total")).count()
    assert bad == 0


def test_ingest_quarantine_stream_matches_batch_twin(spark, sf_dir, tmp_path):
    """The true connector path — readStream directory source under
    trigger(availableNow=True) with schema enforcement and quarantine
    routing — produces EXACTLY the routing the oracle-checked batch twin
    q_ingest_quarantine computes on the same faulted feed (VERDICT r02
    item 6: closes the reference's "API sources" vision, README.md:2)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.registry import QUERIES, load_all
    from self_healing_data_pipeline_spark.streaming.ingest import (
        incremental_ingest_with_quarantine,
    )

    load_all()

    # Land the exact faulted feed q_ingest_quarantine synthesizes, as a
    # JSON-lines file (the API-extractor landing format).
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 41 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        "value",
    )
    payload = F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
    lines = [
        r["line"]
        for r in ev.select(
            F.when(
                F.col("event_id") % 37 == 0,
                F.expr(
                    "substring(to_json(struct(event_id, user_id, event_type,"
                    " value)), 1, length(to_json(struct(event_id, user_id,"
                    " event_type, value))) - 5)"
                ),
            )
            .otherwise(payload)
            .alias("line")
        ).collect()
    ]
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "page1.json").write_text("\n".join(lines) + "\n")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    dest = str(tmp_path / "table")
    quar = str(tmp_path / "quarantine")
    incremental_ingest_with_quarantine(
        spark,
        str(feed),
        dest,
        quar,
        str(tmp_path / "ckpt"),
        schema,
        fmt="json",
        required=["user_id"],
    )

    good = spark.read.parquet(dest)
    bad = spark.read.parquet(quar)
    got = {r["reason"]: r["n"] for r in bad.groupBy("reason").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    got["loaded"] = good.count()
    got_sum = good.agg(
        (F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
         / 100.0).alias("s")
    ).collect()[0]["s"]

    want_rows = QUERIES["q_ingest_quarantine"](spark, sf_dir).collect()
    want = {r["status"]: r["n_records"] for r in want_rows}
    want_sum = next(
        r["sum_value_loaded"] for r in want_rows if r["status"] == "loaded"
    )
    assert got == want
    assert round(got_sum, 2) == round(want_sum, 2)


def test_streaming_ema_matches_batch_twin(spark, sf_dir, tmp_path):
    """Multi-batch replay: events split into three time-ordered files,
    maxFilesPerTrigger=1 forces three micro-batches, and the final EMA
    update per user must equal the batch q_ema result bit-for-bit
    (same fold order, same IEEE expression)."""
    import time as _time

    from pyspark.sql import functions as F

    from self_healing_data_pipeline_spark.registry import QUERIES, load_all
    from self_healing_data_pipeline_spark.streaming.stateful import (
        streaming_ema,
    )

    load_all()
    batch_ev = read_table(spark, sf_dir, "events")
    lo, hi = batch_ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    span = (hi - lo) / 3
    out = str(tmp_path / "ema_stream")
    # write three event-time slices as separate files, in order, with
    # strictly increasing modification times (FileStreamSource batches
    # by mod time under maxFilesPerTrigger=1)
    for i in range(3):
        cut_lo = lo + i * span
        cut_hi = hi if i == 2 else lo + (i + 1) * span
        sl = batch_ev.filter(
            (F.col("ts") >= F.lit(cut_lo))
            & (F.col("ts") <= F.lit(cut_hi) if i == 2 else F.col("ts") < F.lit(cut_hi))
        )
        sl.coalesce(1).write.mode("append").parquet(out)
        _time.sleep(1.1)
    stream_ev = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = (
        streaming_ema(stream_ev)
        .writeStream.format("memory")
        .queryName("t_ema")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    got = {
        r["user_id"]: (r["n_events"], r["ema_last"], r["last_value"])
        for r in spark.sql(
            """SELECT user_id, n_events, ema_last, last_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) AS rn
                 FROM t_ema
               ) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["ema_last"], r["last_value"])
        for r in QUERIES["q_ema"](spark, sf_dir).collect()
    }
    assert got == want  # bit-exact, including the float EMA


def test_streaming_ohlc_matches_batch_twin(spark, sf_dir, events_stream_path):
    """Replaying the full event fixture through the watermarked OHLC
    aggregation must reproduce the batch q_ohlc_bars bars bit-exactly
    (same struct-total-order open/close, same exact-integer cents)."""
    from self_healing_data_pipeline_spark.streaming.windows import (
        streaming_ohlc_bars,
    )
    import __spark_entry__ as entrymod

    batch_ev = read_table(spark, sf_dir, "events")
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(
        events_stream_path
    )
    out = _run_stream(spark, streaming_ohlc_bars(stream_ev), "t_ohlc")
    got = {tuple(r) for r in out.collect()}
    want = {
        tuple(r)
        for r in entrymod.queries()["q_ohlc_bars"](spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_rolling_actives_matches_batch(
    spark, sf_dir, events_stream_path
):
    """Chained windowed aggregations (Spark 4 multiple stateful
    operators, append mode): every window the stream FINALIZES must
    carry exactly the batch q_rolling_active_users count for the
    trailing day it ends on (batch day d = the 7-day window ending at
    day d+1; both align sliding windows at the epoch)."""
    from self_healing_data_pipeline_spark.registry import QUERIES, load_all
    from self_healing_data_pipeline_spark.streaming.windows import (
        streaming_rolling_actives,
    )

    load_all()
    batch_ev = read_table(spark, sf_dir, "events")
    stream_ev = spark.readStream.schema(batch_ev.schema).parquet(
        events_stream_path
    )
    # watermark 0s is safe ONLY here: availableNow processes the whole
    # fixture in one micro-batch, so nothing is ever "late"; it lets the
    # test finalize (and therefore check) the maximum number of windows
    q = (
        streaming_rolling_actives(stream_ev, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("t_rolling")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        int(r["window_end"].timestamp()) // 86400 - 1: r["active_users"]
        for r in spark.table("t_rolling").collect()
    }
    assert stream_rows, "no window finalized"
    batch_rows = {
        r["day"]: r["active_7d"]
        for r in QUERIES["q_rolling_active_users"](spark, sf_dir).collect()
    }
    # every finalized streaming window must match the batch count for
    # its trailing day; the open tail (append-mode caveat) is absent
    for day, n in stream_rows.items():
        assert batch_rows.get(day) == n, (day, n, batch_rows.get(day))
    assert len(stream_rows) >= len(batch_rows) - 8  # only the tail open
