"""Continuous heavy-hitters maintenance: a bounded Misra-Gries summary
kept current across batches — the streaming twin of the batch
``q_heavy_hitters`` pass, completing the registry family (exact dedup,
near-dup, rollup, join-view, and now frequency).

State is a MERGEABLE SUMMARY (Agarwal et al., "Mergeable Summaries",
PODS 2012), never finished answers: at most ``k`` (item, cnt) rows
whose counts are LOWER BOUNDS on the item's true stream frequency, plus
the running stream length ``n_total``. The maintained invariants, after
ANY batching of the stream:

* ``cnt <= true_count`` for every summary row, and
  ``true_count - cnt <= n_total / (k + 1)`` for EVERY item (in the
  summary or not — absent items have implicit cnt 0);
* hence every item with ``true_count > n_total / (k + 1)`` is present —
  the guaranteed-superset property the batch query's exact-verify pass
  relies on.

Why merging preserves the bound: each compression that subtracts ``d``
from every count removes at least ``(k + 1) * d`` total mass from the
summary (the k + 1 largest rows each lose ``d``).  Total mass ever
added is ``n_total`` and mass never goes negative, so the decrements
any single item can have absorbed — its error — telescope to at most
``n_total / (k + 1)`` across an ARBITRARY merge tree.  Batch shape is
therefore invisible in the guarantee, the property the tests pin.

Idempotency/recovery: identical to ``streaming.rollup`` — full
per-epoch snapshots and strictly-prior-epoch reads through
:mod:`streaming.snapshots` (an additive merge must never read its own
replayed output).

Scale notes: the shuffle per batch carries |batch distinct items|
pre-collapsed by a map-side partial count, then at most ``2k + 1``
rows ever touch the driver (the (k+1)-th-largest lookup and the
snapshot is <= k rows + 1 sentinel). The raw stream is never
re-scanned and never shuffled un-aggregated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.drain import (
    drain_available_now,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    commit_snapshot,
    read_latest_snapshot,
)

_SCHEMA = T.StructType(
    [
        T.StructField("item", T.StringType(), True),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("n_total", T.LongType(), False),
    ]
)


def mg_compress(counts: DataFrame, k: int) -> DataFrame:
    """Compress (item, cnt) rows — exact counts or an MG summary — to a
    valid summary of at most ``k`` rows by subtracting the (k+1)-th
    largest count from every row and dropping non-positives.

    The (k+1)-th largest comes from a bounded ``TakeOrdered`` (k + 1
    rows to the driver — the cut-point discipline), never a global
    sort of the counted grain."""
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(k + 1)
        .collect()
    )
    d = top[k]["cnt"] if len(top) > k else 0
    out = counts.select("item", (F.col("cnt") - F.lit(d)).alias("cnt"))
    return out.where(F.col("cnt") > 0)


def apply_heavy_hitters_batch(
    spark: SparkSession,
    batch_items: DataFrame,
    state_dir: str,
    epoch_id: int,
    k: int = 64,
    item_col: str = "item",
) -> None:
    """foreachBatch body: fold one batch of raw items into the summary.

    Batch items collapse to exact counts (map-side partials), compress
    to a <= k-row batch summary, ADD counts pairwise with the prior
    summary, and compress once more — the PODS'12 merge. The stream
    length accumulates additively next to the rows (a NULL-item
    sentinel row keeps it alive even when compression empties the
    summary)."""
    batch_counts = (
        batch_items.select(F.col(item_col).cast("string").alias("item"))
        .where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # The counted grain feeds four jobs this epoch (stream length, the
    # batch compression's top-(k+1), the merged compression, the
    # snapshot write) — persist so the raw batch is scanned ONCE, not
    # re-derived per job.
    batch_counts.persist()
    try:
        batch_n = batch_counts.agg(F.sum("cnt")).collect()[0][0] or 0
        batch_summary = mg_compress(batch_counts, k)
        prior = read_latest_snapshot(spark, state_dir, before_epoch=epoch_id)
        if prior is None:
            prior_total = 0
            merged = batch_summary
        else:
            prior_total = prior.agg(F.max("n_total")).collect()[0][0] or 0
            merged = mg_compress(
                prior.where(F.col("item").isNotNull())
                .select("item", "cnt")
                .unionByName(batch_summary)
                .groupBy("item")
                .agg(F.sum("cnt").alias("cnt")),
                k,
            )
        n_total = int(prior_total) + int(batch_n)
        sentinel = spark.createDataFrame([(None, 0, n_total)], _SCHEMA)
        out = merged.select(
            "item", "cnt", F.lit(n_total).cast("long").alias("n_total")
        ).unionByName(sentinel)
        commit_snapshot(out, state_dir, epoch_id)
    finally:
        batch_counts.unpersist(blocking=False)


def read_summary(spark: SparkSession, state_dir: str):
    """(summary DataFrame of (item, cnt) lower bounds, stream length).

    Returns (None, 0) before the first committed epoch."""
    snap = read_latest_snapshot(spark, state_dir)
    if snap is None:
        return None, 0
    n_total = snap.agg(F.max("n_total")).collect()[0][0] or 0
    return snap.where(F.col("item").isNotNull()).select("item", "cnt"), int(
        n_total
    )


def maintain_heavy_hitters(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    k: int = 64,
    item_col: str = "item",
    await_seconds: int = 300,
) -> None:
    """Drain a directory of item files into the summary — the
    ``maintain_rollup`` twin for frequency state.
    ``trigger(availableNow=True)``: same code is the batch catch-up and
    the continuous daemon."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        apply_heavy_hitters_batch(
            batch.sparkSession, batch, state_dir, epoch_id, k=k, item_col=item_col
        )

    drain_available_now(
        stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        ),
        f"heavy-hitters stream {source_dir!r}",
        await_seconds,
    )
