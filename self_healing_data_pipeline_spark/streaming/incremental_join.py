"""Incremental JOIN-view maintenance (delta joins) — the third leg of
the materialized-view family next to CDC key snapshots
(``streaming/cdc.py``) and mergeable rollups (``streaming/rollup.py``).

A materialized inner equi-join J = L ⋈ R is kept current as keyed
upsert/delete deltas arrive for EITHER side, using the classic
delta-join identity: when ΔL arrives,

    J' = (J ∖ rows whose left key ∈ keys(ΔL)) ∪ (upserts(ΔL) ⋈ R)

— only the DELTA ever joins the full opposite side; the standing
L ⋈ R is never recomputed. Per batch the work is |ΔL|⋈|R| (delta side
broadcastable when small) plus one hash anti-join of J on the delta's
keys; at warehouse scale J, L and R are bucketed by join key so both
steps are shuffle-free. A mixed batch carrying both sides applies left
then right sequentially inside one epoch, so the right delta joins the
already-updated left — associativity the equivalence tests lock in.

State layout: three epoch-snapshot stores under one root (``left/``,
``right/``, ``join/``; the fact ⋈ dim form uses ``fact/``, ``dim/``,
``join/``), committed and resolved through ``streaming/snapshots.py``
like every other store. Each side's snapshot is committed and read back
BEFORE the view joins it, so the merge chain runs once (the write) and
the view's lineage starts at parquet scans. Snapshots are SPARSE per
store: an epoch that carried no delta for a side writes nothing there
(rewriting an untouched side per epoch is a full-side copy at warehouse
scale), and an epoch with no delta at all writes nothing anywhere.
Consequently per-store "latest" epochs can differ — cross-store
consumers needing a consistent (sides, view) triple must pin a common
epoch: read the join store's newest committed epoch E first
(``snapshots.committed_epochs``), then pass ``before_epoch=E+1`` to the
side reads; the join snapshot at E was derived from exactly the side
snapshots resolvable below E+1.

Keys are unique per side (dimension/keyed-entity semantics, the same
contract as CDC apply-changes); deletes are tombstones by key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.streaming.drain import (
    drain_available_now,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    commit_snapshot,
    prune_snapshots,
    read_latest_snapshot,
)

_SIDES = ("left", "right")


def _dirs(state_root: str) -> dict[str, str]:
    return {name: os.path.join(state_root, name) for name in (*_SIDES, "join")}


def _collapse_delta(delta: DataFrame, key: str) -> DataFrame:
    """Latest-wins collapse of a delta to one row per key (op + payload),
    ordered by seq with the CDC tie-break discipline: deletes beat
    same-seq upserts."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(
        F.desc("seq"), F.asc("op")  # 'delete' < 'upsert': delete wins ties
    )
    return (
        delta.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _merge_side(
    prev: DataFrame | None, delta1: DataFrame, key: str
) -> DataFrame:
    """Apply a collapsed delta to a side snapshot: upserts replace by
    key, deletes remove."""
    upserts = delta1.filter(F.col("op") == "upsert").drop("op", "seq")
    keys = delta1.select(key)
    if prev is None:
        return upserts
    kept = prev.join(keys, key, "left_anti")
    return kept.unionByName(upserts)


def apply_join_delta_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_root: str,
    *,
    left_key: str,
    right_key: str,
    left_cols: list[str],
    right_cols: list[str],
    epoch_id: int,
) -> None:
    """Apply one epoch's mixed-side delta batch and commit new
    snapshots for left/right/join.

    ``batch`` columns: ``side`` ('left'|'right'), ``op``
    ('upsert'|'delete'), ``seq`` (per-key version), and the union of
    ``left_cols`` + ``right_cols`` (the irrelevant side's columns null
    per row). ``left_key``/``right_key`` must be differently named (the
    join view carries both). The join view = left payload ⋈ right
    payload on ``left_key = right_key``.
    """
    if left_key == right_key:
        raise ValueError("left_key and right_key must be distinct names")
    # ONE pass over the delta batch decides which sides are present (a
    # per-side ``isEmpty()`` probe would scan every delta twice to learn
    # two booleans). The distinct side set is ≤2 rows at any batch size.
    # An empty epoch changes nothing, so it commits nothing.
    present = {
        r["side"] for r in batch.select("side").distinct().collect()
    }
    if not present:
        return
    dirs = _dirs(state_root)
    sides: dict[str, DataFrame | None] = {
        s: read_latest_snapshot(spark, dirs[s], before_epoch=epoch_id)
        for s in _SIDES
    }
    join_view = read_latest_snapshot(
        spark, dirs["join"], before_epoch=epoch_id
    )
    cols = {"left": left_cols, "right": right_cols}
    for side, key, other in (
        ("left", left_key, "right"),
        ("right", right_key, "left"),
    ):
        if side not in present:
            continue
        delta = batch.filter(F.col("side") == side).drop("side")
        d1 = _collapse_delta(delta.select("op", "seq", *cols[side]), key)
        merged = _merge_side(sides[side], d1, key)
        commit_snapshot(merged, dirs[side], epoch_id)
        # the view joins the committed snapshot, not the merge plan
        sides[side] = read_latest_snapshot(
            spark, dirs[side], before_epoch=epoch_id + 1
        )

        # delta-join: retract every pair carrying a touched key, then
        # add fresh pairs from the upserted rows against the CURRENT
        # other side (already updated if it came first in this epoch)
        touched = d1.select(F.col(key))
        if join_view is not None:
            join_view = join_view.join(
                F.broadcast(touched), key, "left_anti"
            )
        upserted = sides[side].join(F.broadcast(touched), key, "left_semi")
        other_df = sides[other]
        if other_df is not None:
            fresh = (
                upserted.join(
                    other_df, F.col(left_key) == F.col(right_key), "inner"
                )
                if side == "left"
                else other_df.join(
                    upserted, F.col(left_key) == F.col(right_key), "inner"
                )
            )
            join_view = (
                fresh if join_view is None else join_view.unionByName(fresh)
            )

    if join_view is not None:
        commit_snapshot(join_view, dirs["join"], epoch_id)


def read_join_view(spark: SparkSession, state_root: str) -> DataFrame | None:
    """Current materialized join (newest committed snapshot)."""
    return read_latest_snapshot(spark, _dirs(state_root)["join"])


def read_side(
    spark: SparkSession, state_root: str, side: str
) -> DataFrame | None:
    return read_latest_snapshot(spark, _dirs(state_root)[side])


def maintain_join(
    spark: SparkSession,
    source_dir: str,
    state_root: str,
    checkpoint_dir: str,
    schema,
    *,
    left_key: str,
    right_key: str,
    left_cols: list[str],
    right_cols: list[str],
    max_files_per_trigger: int | None = None,
):
    """True-streaming wiring: a file source of mixed-side delta batches
    drives :func:`apply_join_delta_batch` through foreachBatch — the
    same shape as ``rollup.maintain_rollup``. Returns the finished query
    after the stream drains; raises ``TimeoutError`` if it does not
    drain within the shared bound."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        apply_join_delta_batch(
            batch.sparkSession,
            batch,
            state_root,
            left_key=left_key,
            right_key=right_key,
            left_cols=left_cols,
            right_cols=right_cols,
            epoch_id=epoch_id,
        )

    return drain_available_now(
        stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        ),
        f"join-view stream {source_dir!r}",
    )


# ---------------------------------------------------------------------
# N:1 fact ⋈ dimension maintenance — the FK-join shape
# ---------------------------------------------------------------------

_FD_SIDES = ("fact", "dim")


def _fd_dirs(state_root: str) -> dict[str, str]:
    return {
        name: os.path.join(state_root, name) for name in (*_FD_SIDES, "join")
    }


def apply_fact_dim_delta_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_root: str,
    *,
    fact_key: str,
    fact_fk: str,
    dim_key: str,
    fact_cols: list[str],
    dim_cols: list[str],
    epoch_id: int,
) -> None:
    """Maintain a materialized N:1 fact ⋈ dimension view under keyed
    deltas on EITHER side — the FK-join generalization of
    :func:`apply_join_delta_batch` (which is the 1:1 special case).

    ``batch`` columns: ``side`` ('fact'|'dim'), ``op``, ``seq``, plus
    ``fact_cols`` (must include ``fact_key`` — the fact's unique key —
    and ``fact_fk``) and ``dim_cols`` (must include ``dim_key``).
    The view = facts ⋈ dims on ``fact_fk = dim_key``.

    Delta work per batch:

    - fact delta: retract view rows for touched fact keys; fresh pairs =
      upserted facts ⋈ current dim (delta side broadcastable).
    - dim delta: retract view rows whose ``fact_fk`` is a touched dim
      key (an SCD1 dimension update RE-PAIRS every referencing fact);
      fresh pairs = facts semi-filtered to touched FKs ⋈ upserted dims —
      the fact store is read once, filtered map-side by the broadcast
      touched-key set, never rejoined in full.

    The standing view is never recomputed; snapshots/replay semantics
    are identical to the 1:1 form.
    """
    if fact_fk == dim_key:
        raise ValueError("fact_fk and dim_key must be distinct names")
    # one side-presence pass; an empty epoch commits nothing (see
    # apply_join_delta_batch)
    present = {
        r["side"] for r in batch.select("side").distinct().collect()
    }
    if not present:
        return
    dirs = _fd_dirs(state_root)
    facts = read_latest_snapshot(spark, dirs["fact"], before_epoch=epoch_id)
    dims = read_latest_snapshot(spark, dirs["dim"], before_epoch=epoch_id)
    view = read_latest_snapshot(spark, dirs["join"], before_epoch=epoch_id)

    # --- fact delta first (joins see this epoch's facts below) ---
    if "fact" in present:
        fd = batch.filter(F.col("side") == "fact")
        d1 = _collapse_delta(fd.select("op", "seq", *fact_cols), fact_key)
        merged = _merge_side(facts, d1, fact_key)
        commit_snapshot(merged, dirs["fact"], epoch_id)
        facts = read_latest_snapshot(
            spark, dirs["fact"], before_epoch=epoch_id + 1
        )
        touched = d1.select(fact_key)
        if view is not None:
            view = view.join(F.broadcast(touched), fact_key, "left_anti")
        fresh_facts = facts.join(F.broadcast(touched), fact_key, "left_semi")
        if dims is not None:
            fresh = fresh_facts.join(
                dims, F.col(fact_fk) == F.col(dim_key), "inner"
            )
            view = fresh if view is None else view.unionByName(fresh)

    # --- dim delta: re-pair every referencing fact ---
    if "dim" in present:
        dd = batch.filter(F.col("side") == "dim")
        d1 = _collapse_delta(dd.select("op", "seq", *dim_cols), dim_key)
        merged = _merge_side(dims, d1, dim_key)
        commit_snapshot(merged, dirs["dim"], epoch_id)
        dims = read_latest_snapshot(
            spark, dirs["dim"], before_epoch=epoch_id + 1
        )
        touched = d1.select(dim_key)
        if view is not None:
            # alias the probe column: the view carries dim_key itself
            view = view.join(
                F.broadcast(touched.select(F.col(dim_key).alias("__tk"))),
                F.col(fact_fk) == F.col("__tk"),
                "left_anti",
            )
        if facts is not None:
            upserted_dims = dims.join(
                F.broadcast(touched), dim_key, "left_semi"
            )
            referencing = facts.join(
                F.broadcast(touched.select(F.col(dim_key).alias(fact_fk))),
                fact_fk,
                "left_semi",
            )
            fresh = referencing.join(
                upserted_dims, F.col(fact_fk) == F.col(dim_key), "inner"
            )
            view = fresh if view is None else view.unionByName(fresh)

    if view is not None:
        commit_snapshot(view, dirs["join"], epoch_id)


def read_fact_dim_view(
    spark: SparkSession, state_root: str
) -> DataFrame | None:
    """Current materialized fact ⋈ dim view (newest committed snapshot)."""
    return read_latest_snapshot(spark, _fd_dirs(state_root)["join"])


def prune_join_snapshots(state_root: str, keep: int = 2) -> dict[str, list[int]]:
    """Retention across the view's stores (left/right/join, or
    fact/dim/join): :func:`snapshots.prune_snapshots` per store, so run
    it from maintenance, not inside foreachBatch. Returns pruned epoch
    ids per store."""
    out: dict[str, list[int]] = {}
    for name in ("left", "right", "fact", "dim", "join"):
        d = os.path.join(state_root, name)
        if os.path.isdir(d):
            out[name] = prune_snapshots(d, keep=keep)
    return out
