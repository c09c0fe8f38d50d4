"""CDC apply-changes: continuously merge an upsert/delete change stream
into a keyed table (the streaming twin of ``q_merge_upsert``, and the
"connector" half of the reference's load flow — a change feed from an
API/DB lands as files and the table self-heals to the latest state).

Change rows carry ``(op, <key>, <seq>, payload...)`` where ``op`` is
``'upsert'`` or ``'delete'`` and ``seq`` is a monotonically increasing
version (CDC log offset / commit timestamp). Within a batch only the
highest-seq change per key applies; across batches the merge keeps the
newer of (current state, incoming change).

Deletes persist as TOMBSTONES (``__deleted`` flag) rather than removing
the row: if batches arrive out of order (file sources sort by
modification time, which reorders under clock skew or backfill), a
dropped delete would let a stale earlier-seq upsert resurrect the key.
With the tombstone, latest-seq-wins applies uniformly to upserts and
deletes, so the final state is arrival-order-independent: seq ties
between a delete and an upsert resolve delete-first, and ties between
two DIFFERENT upsert payloads resolve by a payload fingerprint
(``xxhash64(to_json(payload))``, highest wins) — the same rules within
a batch and across batches, so batching cannot change the outcome.
(``to_json`` drops null fields, so conforming onto a wider evolved
schema doesn't perturb historical ties; sources whose seq uniquely
versions each key's payload — the normal CDC contract — never hit the
fingerprint rule at all.) Readers use
:func:`live_state`; tombstones older than the source's max reorder
window are purged by :func:`compact_state` (age-based, run from a
periodic maintenance task).

Idempotency (exactly-once effect under foreachBatch's at-least-once
replay): each batch commits a FULL state snapshot for its epoch through
:mod:`streaming.snapshots`, which owns the layout, the commit rule and
retention. Crash between write and checkpoint commit ⇒ replay ⇒ same
snapshot, no duplication.

Scale notes: the per-batch merge is one full-outer join on the key —
shuffle ∝ |state| + |batch|. Rewriting the full snapshot per batch is
the plain-parquet cost of row-level merge; on a table format with
row-level upserts (Delta/Iceberg/Hudi) the same foreachBatch body
becomes a MERGE INTO and the join is the only cost that remains. State
snapshots are keyed tables (dimensions, document registries), orders of
magnitude smaller than the event/corpus tables they describe.
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
    read_latest_snapshot,
)


def _payload_fingerprint(cols: list[str], frame: DataFrame | None = None):
    """Deterministic 64-bit fingerprint of a change's payload, used ONLY to
    break seq ties between two different upsert payloads. ``to_json`` over
    a name-sorted struct gives a canonical serialization (null fields are
    dropped, so conforming a row onto a wider evolved schema doesn't
    change its fingerprint). ``frame`` disambiguates column references
    inside a self-joined plan."""
    ref = (lambda c: frame[c]) if frame is not None else F.col
    return F.xxhash64(
        F.to_json(F.struct(*[ref(c).alias(c) for c in sorted(cols)]))
    )


def latest_change_per_key(batch: DataFrame, key: str, seq: str) -> DataFrame:
    """Collapse a change batch to its final change per key: highest seq,
    seq ties broken by preferring deletes (ascending 'delete' < 'upsert'
    puts the delete first), then by descending payload fingerprint —
    the same tie rules the cross-batch merge applies, so batch
    boundaries cannot change the outcome."""
    payload_cols = [c for c in batch.columns if c not in ("op", key)]
    w = Window.partitionBy(key).orderBy(
        F.desc(seq), F.asc("op"), F.desc(_payload_fingerprint(payload_cols))
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def live_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest snapshot with tombstones filtered out — what readers join."""
    snap = read_state(spark, state_dir)
    if snap is None:
        return None
    return snap.filter(~F.col("__deleted")).drop("__deleted")


def read_state(
    spark: SparkSession, state_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Latest COMMITTED raw snapshot (tombstones included), or None
    pre-first-batch; ``before_epoch`` anchors recovery reads below the
    replaying epoch (:mod:`streaming.snapshots`)."""
    return read_latest_snapshot(spark, state_dir, before_epoch)


def apply_changes_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    key: str,
    seq: str,
    epoch_id: int,
) -> None:
    """Merge one change batch into the state snapshot (foreachBatch body).

    Deterministic and idempotent in ``epoch_id``: replaying the same
    batch rewrites the same epoch snapshot.

    SELF-HEALING on feed drift: when the change stream's payload schema
    diverges from the state's (source added a column, widened a type,
    dropped a field), both sides conform to the evolved schema
    (``operators.schema_evolution``) before the merge — history
    null-fills new columns, widened types lift losslessly, and columns
    the feed dropped survive on existing rows. The merge itself never
    sees a mismatched schema, so drift cannot crash the pipeline.
    """
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.operators.schema_evolution import (
        conform,
        evolved_schema,
    )

    changes = latest_change_per_key(batch, key, seq).withColumnRenamed(
        key, "__ckey"
    )
    # Strictly-prior read: replaying epoch N must not resolve its own
    # (possibly partial, possibly being-overwritten) epoch-N output —
    # the same anchor rollup's additive merge needs (streaming.snapshots).
    current = read_state(spark, state_dir, before_epoch=epoch_id)
    if current is None:
        merged = (
            changes.withColumn("__deleted", F.col("op") == "delete")
            .withColumnRenamed("__ckey", key)
            .drop("op")
        )
    else:
        state_schema = T.StructType(
            [f for f in current.schema.fields if f.name != "__deleted"]
        )
        payload_schema = T.StructType(
            [
                (T.StructField(key, f.dataType, f.nullable)
                 if f.name == "__ckey" else f)
                for f in changes.schema.fields
                if f.name != "op"
            ]
        )
        target = evolved_schema(state_schema, payload_schema)
        # conform each side onto (evolved payload + its own bookkeeping
        # column): one projection, no lineage grafting, no extra join
        current = conform(
            current,
            T.StructType(
                [*target.fields, T.StructField("__deleted", T.BooleanType())]
            ),
        )
        changes = conform(
            changes.withColumnRenamed("__ckey", key),
            T.StructType(
                [*target.fields, T.StructField("op", T.StringType())]
            ),
        ).withColumnRenamed(key, "__ckey")
        state_cols = [c for c in current.columns if c != "__deleted"]
        joined = current.join(
            changes, current[key] == changes["__ckey"], "full_outer"
        )
        payload_cols = [c for c in state_cols if c != key]
        take_change = current[key].isNull() | (
            changes["__ckey"].isNotNull()
            & (
                (changes[seq] > current[seq])
                # equal-seq tie: delete beats upsert, deterministically —
                # with a strict > alone, a same-seq delete and upsert in
                # different batches would resolve by ARRIVAL order
                | (
                    (changes[seq] == current[seq])
                    & (F.col("op") == "delete")
                    & ~current["__deleted"]
                )
                # equal-seq tie between two upsert PAYLOADS: highest
                # fingerprint wins — same rule latest_change_per_key
                # applies within a batch, so batching can't change the
                # final state even for ill-behaved feeds that reuse seq
                | (
                    (changes[seq] == current[seq])
                    & (F.col("op") == "upsert")
                    & ~current["__deleted"]
                    & (
                        _payload_fingerprint(payload_cols, changes)
                        > _payload_fingerprint(payload_cols, current)
                    )
                )
            )
        )
        merged = joined.select(
            *[
                F.when(take_change, changes[c]).otherwise(current[c]).alias(c)
                if c != key
                else F.coalesce(current[key], changes["__ckey"]).alias(key)
                for c in state_cols
            ],
            F.when(take_change, F.col("op") == "delete")
            .otherwise(current["__deleted"])
            .alias("__deleted"),
        )
    commit_snapshot(merged, state_dir, epoch_id)


def apply_changes(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    key: str = "id",
    seq: str = "seq",
    max_files_per_trigger: int | None = None,
    await_seconds: int = 300,
) -> None:
    """Drain a directory of CDC change files into the state table.

    ``trigger(availableNow=True)`` makes this both the batch catch-up
    job and (without the trigger) a continuous daemon — identical merge
    semantics either way.
    """
    reader = spark.readStream.schema(schema).option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format("csv").load(source_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        apply_changes_batch(
            batch.sparkSession, batch, state_dir, key, seq, int(epoch_id)
        )

    drain_available_now(
        stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        ),
        f"CDC stream {source_dir!r}",
        await_seconds,
    )


def compact_state(
    spark: SparkSession,
    state_dir: str,
    horizon_seq: int,
    epoch_id: int,
    seq: str = "seq",
) -> None:
    """Age-based tombstone compaction: write a new snapshot with every
    tombstone whose ``seq`` is strictly below ``horizon_seq`` physically
    removed (the module docstring's "purged by a periodic compaction",
    now implemented).

    The caller picks the horizon from the source's max reorder window —
    e.g. ``max_committed_seq - reorder_window``: the contract is that no
    change with seq below the horizon can still arrive, so dropping
    those tombstones can never let a stale upsert resurrect a key.
    Tombstones AT or above the horizon are kept, so out-of-order
    stale upserts within the reorder window still hit them
    (tests/test_cdc.py::test_compact_state_purges_old_tombstones_only).

    Runs as its own epoch (idempotent under replay, same epoch-snapshot
    overwrite discipline as the merge) and reads the strictly-prior
    snapshot, so it composes with crash recovery exactly like a change
    batch. Cost: one filter + snapshot rewrite — schedule it like
    ``snapshots.prune_snapshots``, from a maintenance task."""
    current = read_state(spark, state_dir, before_epoch=epoch_id)
    if current is None:
        return
    compacted = current.filter(
        ~(F.col("__deleted") & (F.col(seq) < F.lit(horizon_seq)))
    )
    commit_snapshot(compacted, state_dir, epoch_id)
