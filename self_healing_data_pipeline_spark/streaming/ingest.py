"""Incremental file ingestion — the continuous form of the reference's
upload-and-load flow (SURVEY.md §2.1 "API/connector sources", vision
``README.md:2``).

``incremental_ingest`` watches a directory and appends newly-arrived
files to a parquet table exactly once: Structured Streaming's file source
tracks processed files in the checkpoint, so re-runs skip already-ingested
data (the self-healing property: a crashed run resumes where it left off
instead of double-loading — state lives in the checkpoint, not the
operator). ``trigger(availableNow=True)`` drains the backlog and stops,
which makes the same code both a batch catch-up job and a continuous
daemon (drop the trigger).

At scale: the file source lists incrementally (maxFilesPerTrigger bounds
per-batch work), output is append-only parquet partitionable by arrival
date, and the checkpoint is the only coordination state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.drain import (
    drain_available_now,
)


def incremental_ingest(
    spark: SparkSession,
    source_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    fmt: str = "csv",
    max_files_per_trigger: int | None = None,
    transform=None,
    await_seconds: int = 300,
) -> None:
    """Drain all unprocessed files from ``source_dir`` into ``dest_dir``.

    ``transform`` (optional) maps the streaming DataFrame before the sink —
    the hook where frozen-schema casts / quality filters plug in.
    """
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format(fmt).load(source_dir)
    stream = stream.withColumn("_ingested_at", F.current_timestamp())
    if transform is not None:
        stream = transform(stream)
    drain_available_now(
        stream.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append"),
        f"ingest stream {source_dir!r}",
        await_seconds,
    )


def ingested_table(spark: SparkSession, dest_dir: str) -> DataFrame:
    return spark.read.parquet(dest_dir)


def incremental_ingest_with_quarantine(
    spark: SparkSession,
    source_dir: str,
    dest_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    fmt: str = "json",
    required: list[str] | None = None,
    await_seconds: int = 300,
) -> None:
    """API/connector-shaped incremental source with schema enforcement.

    The cloud-standard API-ingest pattern: an extractor lands feed pages as
    JSON-lines (or CSV) files in ``source_dir``; this drains them exactly
    once (file-source checkpoint + idempotent sink writes, see below) and
    ROUTES each record — rows that parse under the frozen ``schema`` and
    carry all ``required`` fields land in the ``dest_dir`` parquet table;
    malformed rows (captured raw via PERMISSIVE + _corrupt_record) and
    schema-violating rows (missing required fields) land in
    ``quarantine_dir`` with a reason column for repair/re-ingest. Nothing
    is dropped, one bad page can't kill the load, and a crashed run
    resumes from the checkpoint — the same healing-loop shape as the
    reference's error→repair→resume state machine
    (``automated-data-catalog-&-etl/App.tsx:89-204``), applied at the
    record level.

    Exactly-once is real, not just at-least-once: foreachBatch alone
    replays a batch if the process dies between a sink write and the
    checkpoint commit, so each sink write is made IDEMPOTENT by
    partitioning on the deterministic ``batch_id`` with dynamic partition
    overwrite — a replayed batch overwrites its own partition instead of
    appending duplicates (the standard foreachBatch idempotency pattern).
    foreachBatch splits each micro-batch once (cached) and writes both
    sinks; at scale each sink write is a partition-parallel parquet write
    and the only driver state is the checkpoint's processed-file log.
    """
    aug = T.StructType(
        list(schema.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    reader = (
        spark.readStream.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if fmt == "csv":
        reader = reader.option("header", True)
    stream = reader.format(fmt).load(source_dir)

    data_cols = [f.name for f in schema.fields]
    req = required or []

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()  # SPARK-21610: corrupt col needs materialization
        try:
            corrupt = F.col("_corrupt_record").isNotNull()
            missing = F.lit(False)
            for c in req:
                missing = missing | F.col(c).isNull()
            good = batch_df.filter(~corrupt & ~missing)
            bad = batch_df.filter(corrupt | missing)
            # batch_id-partitioned dynamic overwrite: a replayed batch
            # (crash between write and checkpoint commit) rewrites its own
            # partition rather than appending duplicate rows.
            (
                good.drop("_corrupt_record")
                .withColumn("_ingested_at", F.current_timestamp())
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(dest_dir)
            )
            (
                bad.select(
                    F.coalesce(
                        F.col("_corrupt_record"),
                        F.to_json(F.struct(*data_cols)),
                    ).alias("raw_record"),
                    F.when(corrupt, "malformed")
                    .otherwise("missing_required_field")
                    .alias("reason"),
                    F.current_timestamp().alias("_quarantined_at"),
                    F.lit(batch_id).alias("batch_id"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(quarantine_dir)
            )
        finally:
            batch_df.unpersist()

    drain_available_now(
        stream.writeStream.foreachBatch(route).option(
            "checkpointLocation", checkpoint_dir
        ),
        f"ingest-with-quarantine stream {source_dir!r}",
        await_seconds,
    )
