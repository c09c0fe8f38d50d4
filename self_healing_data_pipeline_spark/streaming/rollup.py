"""Incremental rollup maintenance (continuous aggregates): keep a
time-bucketed aggregate table current as batches arrive, without ever
re-scanning history — the TimescaleDB continuous-aggregate /
materialized-rollup pattern on plain parquet.

State rows hold MERGEABLE partials, never finished answers: (n, sum)
per (bucket, key) — avg/rate derive at read time. Partials form a
commutative monoid (add the counts, add the exact-decimal sums), so
maintenance is one aggregate of the new batch + one full-outer merge
with the snapshot, and the result is independent of how history was
batched (the same algebra Spark's own partial/final aggregation uses
inside a single query, lifted across batches).

Idempotency: identical to ``streaming.cdc`` — each epoch commits a full
snapshot through :mod:`streaming.snapshots`, and the merge reads the
snapshot STRICTLY BEFORE its epoch: CDC's latest-wins merge would
survive re-reading its own output, but an additive merge would
double-count the replayed batch. Exactly-once effect under
foreachBatch's at-least-once replay, PROVIDED the upstream source
deduplicates deliveries per epoch (the file source does).

Scale notes: the merge shuffles |state| + |batch-groups| rows of
(bucket, key, n, sum) — never raw events. Snapshot size is the rollup's
group cardinality (buckets × keys), orders of magnitude below the event
stream; on Delta/Iceberg the same body becomes MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.streaming.drain import (
    drain_available_now,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    commit_snapshot,
    read_latest_snapshot,
)


def aggregate_batch(
    batch: DataFrame, bucket_expr, keys: list[str], value: str
) -> DataFrame:
    """Collapse raw rows to mergeable partials: (bucket, keys…, n, sum).

    ``sum`` accumulates exact integer cents (order-independent,
    cross-engine stable — the ``functions.scalar`` discipline)."""
    return (
        batch.withColumn("bucket", bucket_expr)
        .groupBy("bucket", *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col(value) * 100).cast("bigint")).alias(
                "sum_cents"
            ),
        )
    )


def merge_rollup(
    spark: SparkSession,
    batch_partials: DataFrame,
    state_dir: str,
    keys: list[str],
    epoch_id: int,
) -> None:
    """Merge a batch's partials into the snapshot (foreachBatch body).

    Monoid merge: counts and sums ADD — unlike CDC's latest-wins, every
    batch contributes, and batch order is irrelevant by commutativity.
    """
    group_cols = ["bucket", *keys]
    current = read_latest_snapshot(spark, state_dir, before_epoch=epoch_id)
    if current is None:
        merged = batch_partials
    else:
        merged = (
            current.unionByName(batch_partials)
            .groupBy(*group_cols)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_cents").alias("sum_cents"),
            )
        )
    commit_snapshot(merged, state_dir, epoch_id)


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Finished answers from the partials: n, sum, and derived avg."""
    snap = read_latest_snapshot(spark, state_dir)
    if snap is None:
        return None
    return snap.select(
        "*",
        (F.col("sum_cents").cast("double") / 100.0).alias("sum_value"),
        (
            F.col("sum_cents").cast("double")
            / F.col("n").cast("double")
            / 100.0
        ).alias("avg_value"),
    )


def maintain_rollup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    bucket_expr_sql: str = "date_trunc('hour', ts)",
    keys: list[str] | None = None,
    value: str = "value",
    max_files_per_trigger: int | None = None,
    await_seconds: int = 300,
) -> None:
    """Drain a directory of event files into the rollup state — the
    ``cdc.apply_changes`` twin for continuous aggregates. The bucket
    expression is passed as SQL text because foreachBatch bodies build
    their plans per batch. ``trigger(availableNow=True)``: same code is
    the batch catch-up and the continuous daemon."""
    keys = keys or ["event_type"]
    reader = spark.readStream.schema(schema).option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format("csv").load(source_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        partials = aggregate_batch(
            batch, F.expr(bucket_expr_sql), keys, value
        )
        merge_rollup(batch.sparkSession, partials, state_dir, keys, int(epoch_id))

    drain_available_now(
        stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        ),
        f"rollup stream {source_dir!r}",
        await_seconds,
    )
