"""Incremental NEAR-duplicate registry: continuous MinHash/LSH dedup of
a document stream against all history — the streaming twin of
``q_dedup_minhash``/``q_dedup_ngram_verify``, and the form a real
training-corpus pipeline runs (documents arrive forever; a re-crawl
with one sentence changed must still be suppressed by the copy already
in the corpus).

State = the registry of ACCEPTED documents' MinHash signatures
(doc_id, 32×int64 — ~300 B/doc, orders of magnitude smaller than the
corpus). Per batch:

1. signature the batch (Arrow-batched numpy kernel, narrow map);
2. band both the batch and the registry signatures (8 bands × 4 rows —
   a pure projection of the signature store, nothing re-reads text) and
   join on (band, bucket) → candidate (new, old) pairs, ONE shuffle;
3. verify candidates by signature agreement — the MinHash estimate of
   Jaccard is the fraction of equal components, deterministic given the
   signatures — keeping matches ≥ ``threshold``;
4. within-batch candidates resolve keep-first in id order with the
   GREEDY SURVIVOR rule (a doc is suppressed only by an earlier doc
   that itself survived): this is what makes batch boundaries invisible
   — under a "suppressed docs also suppress" shortcut, a chain A~B~C
   (A≁C) would drop C in one batch but keep it when cut in two. The
   rule is order-sequential only WITHIN a connected component of the
   pair graph, so the resolution dispatches by size like
   ``q_dedup_clusters``: components via
   ``operators.dedup.connected_components`` (driver union-find below
   its 2M-edge broadcastable threshold, distributed min-label
   propagation above — so pair-list driver memory is bounded by the
   same constant Spark uses for broadcast sides, never by batch dup
   density), then the order-sequential greedy pass ALWAYS runs
   per-component in executors (``applyInPandas``) — components are
   near-dup clusters, bounded by the bucket caps;
5. append survivors' signatures to the registry and emit them to the
   accepted output, both idempotent epoch commits with
   strictly-prior-epoch reads (``streaming.snapshots``) — replay-safe
   exactly like ``streaming.dedup_registry``.

Scale: the (band, bucket) join shuffles band keys + ids only;
degenerate buckets are capped (``max_bucket``) on BOTH sides — the
within-batch pair join and the registry side of the history join — so
one hot bucket accumulating in state can't make per-batch candidate
counts grow with history. Registry growth is one signature per
SURVIVING document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.dedup import (
    minhash_signatures,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    commit_snapshot,
    read_latest_snapshot,
)


def _banded(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig) -> (id, band, bucket): the same band-key projection as
    ``operators.dedup.minhash_lsh_pairs``."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("__sig").getItem(b * rows_per_band + r)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "bk.band", "bk.bucket")


def _sig_agreement(l_col: str, r_col: str) -> F.Column:
    """MinHash Jaccard estimate: fraction of equal signature slots."""
    return F.aggregate(
        F.zip_with(F.col(l_col), F.col(r_col), lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(F.col(l_col)).cast("double")


def apply_neardup_batch(
    spark: SparkSession,
    batch: DataFrame,
    registry_dir: str,
    accepted_dir: str,
    epoch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_n: int = 5,
    max_bucket: int = 10_000,
) -> None:
    """foreachBatch body: emit the batch's documents that near-match
    nothing in history (nor an earlier batch survivor), and register
    their signatures. Idempotent in ``epoch_id``."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    sigs = minhash_signatures(
        batch, id_col, text_col, num_hashes, shingle_n
    ).cache()
    try:
        new_b = _banded(sigs, num_hashes, bands)
        registry = read_latest_snapshot(
            spark, registry_dir, before_epoch=epoch_id
        )
        matched_hist = None
        if registry is not None:
            reg_sigs = registry.select(
                F.col("doc_id").alias("__id"), F.col("sig").alias("__sig")
            )
            reg_b = _banded(reg_sigs, num_hashes, bands)
            # Degenerate-bucket cap on the REGISTRY side too: a hot
            # (band, bucket) accumulating in history (boilerplate docs)
            # would otherwise make per-batch candidates grow with
            # history even when each batch is small. Oversized buckets
            # are dropped from the candidate join exactly like the
            # within-batch pair_b filter below; the aggregated
            # oversized-bucket list is tiny (count > max_bucket can
            # hold for at most |registry|*bands/max_bucket keys), so
            # the anti-join broadcasts.
            reg_hot = reg_b.groupBy("band", "bucket").count().filter(
                F.col("count") > max_bucket
            )
            reg_b = reg_b.join(
                F.broadcast(reg_hot.select("band", "bucket")),
                ["band", "bucket"],
                "left_anti",
            )
            cand = (
                new_b.join(
                    reg_b.select(
                        "band", "bucket", F.col("__id").alias("__rid")
                    ),
                    ["band", "bucket"],
                )
                .select("__id", "__rid")
                .distinct()
            )
            verified = (
                cand.join(sigs, "__id")
                .join(
                    reg_sigs.select(
                        F.col("__id").alias("__rid"),
                        F.col("__sig").alias("__rsig"),
                    ),
                    "__rid",
                )
                .filter(_sig_agreement("__sig", "__rsig") >= threshold)
            )
            matched_hist = verified.select("__id").distinct()
        # within-batch candidates: in-bucket pairs, verified, then the
        # greedy keep-first survivor pass (bounded driver loop)
        pair_b = new_b.select(
            "band", "bucket", F.col("__id").alias("__l")
        ).join(new_b.select("band", "bucket", F.col("__id").alias("__r")),
               ["band", "bucket"])
        bucket_sizes = new_b.groupBy("band", "bucket").count().filter(
            F.col("count") > max_bucket
        )
        pairs = (
            pair_b.join(
                F.broadcast(bucket_sizes.select("band", "bucket")),
                ["band", "bucket"],
                "left_anti",
            )
            .filter(F.col("__l") < F.col("__r"))
            .select("__l", "__r")
            .distinct()
            .join(sigs.select(F.col("__id").alias("__l"),
                              F.col("__sig").alias("__lsig")), "__l")
            .join(sigs.select(F.col("__id").alias("__r"),
                              F.col("__sig").alias("__rsig")), "__r")
            .filter(_sig_agreement("__lsig", "__rsig") >= threshold)
            .select("__l", "__r")
        )
        # Greedy survivor pass. The rule ("a doc is suppressed only by
        # an EARLIER doc that itself survived") is sequential only
        # within a connected component of the verified pair graph:
        # components are independent, so component resolution uses the
        # same size-dispatched operator as q_dedup_clusters (driver
        # union-find while the edge list is broadcast-sized ≤2M,
        # distributed min-label propagation above — driver memory is
        # bounded by that constant, not by batch dup density), and the
        # order-sequential greedy loop itself always runs distributed,
        # per component, in executors. Components are near-dup
        # clusters bounded by the bucket caps.
        #
        # The pair list feeds both the component resolution and the
        # flagged edge list — checkpoint it so the bucket-join +
        # signature-verify upstream runs exactly once. Fast path: no
        # verified in-batch pairs (the common case on a real stream —
        # most batches carry no internal near-dups) means no greedy
        # pass at all; isEmpty on the checkpointed frame is a one-block
        # peek, and skipping the component resolution + grouped-map
        # stage saves several Spark jobs per batch. Both paths share
        # the single survivors/output tail below.
        pairs = pairs.localCheckpoint(eager=True)
        batch_suppressed = (
            None
            if pairs.isEmpty()
            else _resolve_suppressed(pairs, sigs, matched_hist)
        )
        survivors = sigs
        if matched_hist is not None:
            survivors = survivors.join(matched_hist, "__id", "left_anti")
        if batch_suppressed is not None:
            survivors = survivors.join(batch_suppressed, "__id", "left_anti")
        _write_outputs(
            batch, survivors, registry, id_col,
            accepted_dir, registry_dir, epoch_id,
        )
    finally:
        sigs.unpersist(blocking=False)


def _resolve_suppressed(
    pairs: DataFrame, sigs: DataFrame, matched_hist: DataFrame | None
) -> DataFrame:
    """Ids suppressed by the in-batch greedy survivor rule, as a
    single-column (__id) frame: connected components over the verified
    pairs, then the order-sequential greedy loop per component in
    executors."""
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # Per-endpoint history flag rides along on the edges so the
    # per-component pass needs no side lookup. A hist-matched doc is
    # seeded SUPPRESSED and therefore does NOT suppress later in-batch
    # docs (same as the old driver loop): the registry copy that
    # matched it is what stands in the corpus, and any later doc
    # near-matching that copy is caught by its own history join, not
    # transitively through the dropped doc.
    if matched_hist is not None:
        hflag = matched_hist.select("__id", F.lit(True).alias("__h"))
        pairs_flagged = (
            pairs.join(
                hflag.select(
                    F.col("__id").alias("__l"),
                    F.col("__h").alias("l_hist"),
                ),
                "__l",
                "left",
            )
            .join(
                hflag.select(
                    F.col("__id").alias("__r"),
                    F.col("__h").alias("r_hist"),
                ),
                "__r",
                "left",
            )
            .fillna(False, ["l_hist", "r_hist"])
        )
    else:
        pairs_flagged = pairs.withColumn(
            "l_hist", F.lit(False)
        ).withColumn("r_hist", F.lit(False))
    comp = connected_components(pairs, "__l", "__r").select(
        F.col("node").alias("__l"), "cluster_id"
    )
    comp_edges = pairs_flagged.join(comp, "__l")
    out_schema = T.StructType(
        [T.StructField("__id", sigs.schema["__id"].dataType)]
    )

    def _greedy_component(pdf):
        import pandas as pd

        edges: dict = {}
        suppressed: set = set()
        for lid, rid, lh, rh in zip(
            pdf["__l"], pdf["__r"], pdf["l_hist"], pdf["r_hist"]
        ):
            edges.setdefault(rid, []).append(lid)
            if lh:
                suppressed.add(lid)
            if rh:
                suppressed.add(rid)
        dropped: list = []
        for rid in sorted(edges):
            if rid in suppressed:
                continue
            if any(lid not in suppressed for lid in edges[rid]):
                suppressed.add(rid)
                dropped.append(rid)
        return pd.DataFrame({"__id": dropped})

    return comp_edges.groupBy("cluster_id").applyInPandas(
        _greedy_component, out_schema
    )


def _write_outputs(
    batch: DataFrame,
    survivors: DataFrame,
    registry: DataFrame | None,
    id_col: str,
    accepted_dir: str,
    registry_dir: str,
    epoch_id: int,
) -> None:
    """Commit the epoch's accepted rows and the merged registry snapshot."""
    accepted = batch.join(
        survivors.select(F.col("__id").alias(id_col)), id_col
    )
    commit_snapshot(accepted, accepted_dir, epoch_id)
    new_entries = survivors.select(
        F.col("__id").alias("doc_id"),
        F.col("__sig").alias("sig"),
        F.lit(epoch_id).cast("long").alias("first_epoch"),
    )
    merged = (
        registry.unionByName(new_entries)
        if registry is not None
        else new_entries
    )
    commit_snapshot(merged, registry_dir, epoch_id)


def read_neardup_registry(
    spark: SparkSession, registry_dir: str
) -> DataFrame | None:
    """Latest committed registry snapshot (doc_id, sig, first_epoch)."""
    return read_latest_snapshot(spark, registry_dir)
