"""Streaming dedup registry: continuous keep-first deduplication of a
document stream against ALL history (the streaming twin of
``q_dedup_incremental``'s batch LEFT ANTI, and the corpus-build shape a
pipeline actually runs: documents arrive forever, the registry of seen
content grows forever, and only novel documents flow downstream).

State = a REGISTRY of content fingerprints (md5 of the
whitespace-normalized lowercased text — the same normalization as
``q_dedup_normalized``, so near-identical re-crawls collapse) with the
owning doc id and first-seen epoch. Per batch:

1. fingerprint the batch (narrow map — no shuffle carries text);
2. collapse the batch to its keep-first winner per fingerprint (lowest
   doc id — deterministic within a batch however it is partitioned);
3. LEFT ANTI against the registry → the batch's NOVEL documents;
4. append the novel fingerprints to the registry snapshot and emit the
   novel documents to the accepted output, both as epoch snapshots.

Exactly-once effect under foreachBatch's at-least-once replay: both
writes are idempotent epoch commits, and the registry read is
anchored STRICTLY BEFORE the current epoch (``streaming.snapshots``),
so replaying epoch N re-derives the same novel set from the same prior
registry — a crash between the two writes cannot double-emit or lose a
document. Keep-first semantics are inherently arrival-order dependent
(the first occurrence wins — that is the point of a registry); what the
tests pin is that BATCHING is invisible: any cut of the same ordered
stream yields the same accepted set and the same final registry.

Scale notes (100 TB): the anti-join shuffles fingerprints + ids only,
∝ |batch| + |registry|; the registry row is ~50 bytes/document (orders
of magnitude smaller than the corpus). Rewriting the registry snapshot
per epoch is the plain-parquet cost of row-level append — on
Delta/Iceberg the same body becomes a MERGE/append and only the
anti-join remains. Retention of old registry epochs via
``streaming.snapshots.prune_snapshots``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.drain import (
    drain_available_now,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    commit_snapshot,
    read_all_snapshots,
    read_latest_snapshot,
)


def fingerprint(text_col: str = "text"):
    """Normalized-content fingerprint column (md5 of lowercased,
    whitespace-collapsed, trimmed text) — matches q_dedup_normalized."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )


def apply_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    registry_dir: str,
    accepted_dir: str,
    epoch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """foreachBatch body: emit the batch's novel documents and extend
    the registry, idempotently in ``epoch_id``."""
    fp = batch.withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp").orderBy(F.asc(id_col))
    batch_first = (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    registry = read_latest_snapshot(spark, registry_dir, before_epoch=epoch_id)
    if registry is None:
        novel = batch_first
    else:
        novel = batch_first.join(
            registry.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
        )
    # novel feeds two writes (accepted + registry): cache for their
    # duration so the anti-join runs once, release before returning
    novel = novel.cache()
    try:
        # accepted output first, registry second: if a crash lands
        # between the two writes, replay re-derives the SAME novel set
        # from the prior registry and overwrites both — no loss, no
        # double-emit
        commit_snapshot(novel.drop("__fp"), accepted_dir, epoch_id)
        new_entries = novel.select(
            F.col("__fp").alias("fp"),
            F.col(id_col).alias("first_id"),
            F.lit(epoch_id).cast("long").alias("first_epoch"),
        )
        merged = (
            registry.unionByName(new_entries)
            if registry is not None
            else new_entries
        )
        commit_snapshot(merged, registry_dir, epoch_id)
    finally:
        novel.unpersist(blocking=False)


def read_registry(spark: SparkSession, registry_dir: str) -> DataFrame | None:
    """Latest committed registry snapshot (fp, first_id, first_epoch)."""
    return read_latest_snapshot(spark, registry_dir)


def read_accepted(spark: SparkSession, accepted_dir: str) -> DataFrame | None:
    """Union of every committed epoch's accepted (novel) documents."""
    return read_all_snapshots(spark, accepted_dir)


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    registry_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    await_seconds: int = 300,
) -> None:
    """Drain a directory of document files through the dedup registry
    (one merge body for the catch-up job and the daemon, like
    ``cdc.apply_changes``)."""
    reader = spark.readStream.schema(schema).option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format("csv").load(source_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        apply_dedup_batch(
            batch.sparkSession,
            batch,
            registry_dir,
            accepted_dir,
            int(epoch_id),
            id_col=id_col,
            text_col=text_col,
        )

    drain_available_now(
        stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        ),
        f"dedup stream {source_dir!r}",
        await_seconds,
    )
