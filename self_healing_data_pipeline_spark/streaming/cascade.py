"""Streaming corpus-intake FUNNEL: the continuous twin of
q_filter_cascade (``queries/extras74.py``) — documents arrive forever,
the five-stage filter cascade runs per micro-batch, and the funnel
report (per-stage n_in / n_dropped / n_out) stays current across all
history without ever rescanning it.

State under ``state_dir`` (two epoch-snapshot stores committed and read
through ``streaming.snapshots`` — idempotent under foreachBatch's
at-least-once replay, same discipline as ``dedup_registry``/``cdc``):

- ``registry/``: fingerprints of ACCEPTED documents (those that passed
  every gate including dedup) — ~50 B/doc, the only unbounded state;
- ``counters/``: six cumulative integers (n0..n5), the entire funnel.

Per batch: the four row-local gates come from the SHARED
``operators.cascade.cascade_flags`` (so constants cannot drift from
the batch query); the dedup stage resolves first-survivor-per-
fingerprint as (batch keep-first among survivors) LEFT ANTI the
registry — equal to the batch query's global MIN(doc_id)-survivor
window when batches arrive in doc_id order (the same per-key
in-order contract as the dedup/near-dup registries), which
``tests/test_cascade_stream.py`` pins cell-for-cell against
q_filter_cascade.

Scale notes (100 TB): stage counters are six longs regardless of
stream length; the only shuffle is the batch-keep-first window plus
the fingerprint anti-join (∝ |batch| + |registry| fingerprint rows,
text never shuffles).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.cascade import (
    STAGE_NAMES,
    cascade_flags,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    commit_snapshot,
    read_latest_snapshot,
)

_COUNTER_COLS = ("n0", "n1", "n2", "n3", "n4", "n5")


def apply_cascade_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int,
) -> None:
    """foreachBatch body: fold one micro-batch into the funnel state,
    idempotently in ``epoch_id``."""
    registry_dir = os.path.join(state_dir, "registry")
    counters_dir = os.path.join(state_dir, "counters")
    flags = cascade_flags(batch)
    # Batch-local dedup among survivors: keep-first per fingerprint...
    w = Window.partitionBy("fp").orderBy(F.asc("doc_id"))
    survivors = (
        flags.filter(F.col("s4"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # ...then against ALL history (strictly-prior snapshot: replay of
    # epoch N re-derives the same accepted set from the same inputs).
    registry = read_latest_snapshot(
        spark, registry_dir, before_epoch=epoch_id
    )
    if registry is None:
        accepted = survivors
    else:
        accepted = survivors.join(
            registry.select("fp"), "fp", "left_anti"
        )
    accepted = accepted.cache()
    try:
        deltas = flags.agg(
            F.count(F.lit(1)).cast("long").alias("n0"),
            F.sum(F.col("pass_len").cast("long")).alias("n1"),
            F.sum((F.col("pass_len") & F.col("pass_lang")).cast("long"))
            .alias("n2"),
            F.sum(
                (
                    F.col("pass_len")
                    & F.col("pass_lang")
                    & F.col("pass_alpha")
                ).cast("long")
            ).alias("n3"),
            F.sum(F.col("s4").cast("long")).alias("n4"),
        ).first()
        n5_delta = accepted.count()
        prior = read_latest_snapshot(
            spark, counters_dir, before_epoch=epoch_id
        )
        base = (
            {c: 0 for c in _COUNTER_COLS}
            if prior is None
            else prior.first().asDict()
        )
        totals = {
            "n0": base["n0"] + deltas["n0"],
            "n1": base["n1"] + (deltas["n1"] or 0),
            "n2": base["n2"] + (deltas["n2"] or 0),
            "n3": base["n3"] + (deltas["n3"] or 0),
            "n4": base["n4"] + (deltas["n4"] or 0),
            "n5": base["n5"] + n5_delta,
        }
        commit_snapshot(
            spark.createDataFrame(
                [tuple(int(totals[c]) for c in _COUNTER_COLS)],
                ", ".join(f"{c} long" for c in _COUNTER_COLS),
            ),
            counters_dir,
            epoch_id,
        )
        new_entries = accepted.select("fp").withColumn(
            "first_epoch", F.lit(epoch_id).cast("long")
        )
        merged = (
            registry.unionByName(new_entries)
            if registry is not None
            else new_entries
        )
        commit_snapshot(merged, registry_dir, epoch_id)
    finally:
        accepted.unpersist(blocking=False)


def read_funnel(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The funnel report in q_filter_cascade's exact output shape
    (stage_idx, stage, n_in, n_dropped, n_out, drop_rate) from the
    latest committed counters snapshot."""
    counters = read_latest_snapshot(
        spark, os.path.join(state_dir, "counters")
    )
    if counters is None:
        return None
    c = counters.first().asDict()
    rows = []
    for i, stage in enumerate(STAGE_NAMES, start=1):
        n_in, n_out = c[f"n{i - 1}"], c[f"n{i}"]
        rows.append(
            (
                i,
                stage,
                int(n_in),
                int(n_in - n_out),
                int(n_out),
                0.0 if n_in == 0 else float(n_in - n_out) / float(n_in),
            )
        )
    return spark.createDataFrame(
        rows,
        "stage_idx int, stage string, n_in long, n_dropped long, "
        "n_out long, drop_rate double",
    )
