"""Incremental near-dup registry (streaming.neardup_registry):
cross-batch MinHash suppression, verification rejecting weak band
collisions, greedy-survivor chain semantics, batch-cut invariance, and
replay idempotence.

Fixture texts are deterministically tuned (signatures are pure
functions of text, so these values are stable): at threshold 0.8, A~B
agrees 0.844 and B~C 0.875 (both match), while A~C agrees 0.719 —
A and C still share 2 band buckets, so the A–C candidate IS generated
and must be rejected by verification."""

from __future__ import annotations

import random

from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.neardup_registry import (
    apply_neardup_batch,
    read_neardup_registry,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_POOL = (
    "spark table query value line scan column order sort batch merge "
    "index cache node plan stage task row page group"
).split()


THRESHOLD = 0.8


def _chain_texts():
    rng = random.Random(3)
    words = [_POOL[rng.randrange(len(_POOL))] for _ in range(120)]
    a = " ".join(words)
    wb = list(words)
    for f in (40, 63, 86):
        wb[f] = f"bflip{f}"
    b = " ".join(wb)
    wc = list(wb)
    for f in (25, 52, 114):
        wc[f] = f"cflip{f}"
    c = " ".join(wc)
    return a, b, c


def _distinct_text(seed: int):
    rng = random.Random(seed)
    return " ".join(
        f"{_POOL[rng.randrange(len(_POOL))]}{rng.randrange(1000)}"
        for _ in range(80)
    )


def _accepted_ids(spark, adir):
    from self_healing_data_pipeline_spark.streaming.snapshots import (
        read_all_snapshots,
    )

    acc = read_all_snapshots(spark, adir)
    return sorted(r["doc_id"] for r in acc.collect()) if acc is not None else []


def test_cross_batch_near_dup_suppressed(spark, tmp_path):
    a, b, _ = _chain_texts()
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    apply_neardup_batch(
        spark,
        spark.createDataFrame([(1, a), (2, _distinct_text(7))], SCHEMA),
        rdir, adir, 0, threshold=THRESHOLD,
    )
    # near-copy of doc 1 and an exact copy arrive in a later batch
    apply_neardup_batch(
        spark,
        spark.createDataFrame(
            [(3, b), (4, a), (5, _distinct_text(11))], SCHEMA
        ),
        rdir, adir, 1, threshold=THRESHOLD,
    )
    assert _accepted_ids(spark, adir) == [1, 2, 5]
    reg = read_neardup_registry(spark, rdir)
    assert sorted(r["doc_id"] for r in reg.collect()) == [1, 2, 5]


def test_chain_resolution_and_weak_candidate_rejected(spark, tmp_path):
    """A~B~C with A–C only banding-close: B suppressed by A, C must
    SURVIVE — its only surviving candidate (A) fails verification, and
    the suppressed B must not suppress on A's behalf."""
    a, b, c = _chain_texts()
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    apply_neardup_batch(
        spark,
        spark.createDataFrame([(1, a), (2, b), (3, c)], SCHEMA),
        rdir, adir, 0, threshold=THRESHOLD,
    )
    assert _accepted_ids(spark, adir) == [1, 3]


def test_batch_cuts_are_invisible(spark, tmp_path):
    a, b, c = _chain_texts()
    d = _distinct_text(5)
    stream = [(1, a), (2, b), (3, c), (4, d)]
    results = []
    for case, cuts in enumerate(
        [[stream], [stream[:2], stream[2:]], [stream[:1], stream[1:3], stream[3:]]]
    ):
        rdir = str(tmp_path / f"reg{case}")
        adir = str(tmp_path / f"acc{case}")
        for epoch, rows in enumerate(cuts):
            apply_neardup_batch(
                spark, spark.createDataFrame(rows, SCHEMA), rdir, adir,
                epoch, threshold=THRESHOLD,
            )
        results.append(_accepted_ids(spark, adir))
    assert all(r == results[0] for r in results), results
    assert results[0] == [1, 3, 4]


def test_replay_is_idempotent(spark, tmp_path):
    a, b, _ = _chain_texts()
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    apply_neardup_batch(
        spark, spark.createDataFrame([(1, a)], SCHEMA), rdir, adir, 0,
        threshold=THRESHOLD,
    )
    batch1 = [(2, b), (3, _distinct_text(9))]
    apply_neardup_batch(
        spark, spark.createDataFrame(batch1, SCHEMA), rdir, adir, 1,
        threshold=THRESHOLD,
    )
    once = _accepted_ids(spark, adir)
    # crash-after-write: the same epoch replays
    apply_neardup_batch(
        spark, spark.createDataFrame(batch1, SCHEMA), rdir, adir, 1,
        threshold=THRESHOLD,
    )
    assert _accepted_ids(spark, adir) == once == [1, 3]
    assert read_neardup_registry(spark, rdir).count() == 2


def test_string_doc_ids(spark, tmp_path):
    """Advice r5: the greedy pass built an int()-cast IN-list, crashing
    on non-numeric id columns. Membership is now a broadcast semi/anti
    join on an id-typed literal frame — string ids must work end to
    end, including cross-batch suppression."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    a, b, _ = _chain_texts()
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    apply_neardup_batch(
        spark,
        spark.createDataFrame([("doc-a", a), ("doc-x", _distinct_text(7))], schema),
        rdir, adir, 0, threshold=THRESHOLD,
    )
    apply_neardup_batch(
        spark,
        spark.createDataFrame([("doc-b", b), ("doc-a2", a)], schema),
        rdir, adir, 1, threshold=THRESHOLD,
    )
    assert _accepted_ids(spark, adir) == ["doc-a", "doc-x"]
    reg = read_neardup_registry(spark, rdir)
    assert sorted(r["doc_id"] for r in reg.collect()) == ["doc-a", "doc-x"]


def test_registry_side_degenerate_bucket_cap(spark, tmp_path):
    """Advice r5: the batch-vs-registry candidate join is capped like
    the within-batch join. With max_bucket=0 every registry bucket is
    degenerate, so an exact copy of a registered doc generates NO
    history candidate and must be accepted (old code suppressed it)."""
    a, _, _ = _chain_texts()
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    apply_neardup_batch(
        spark, spark.createDataFrame([(1, a)], SCHEMA), rdir, adir, 0,
        threshold=THRESHOLD, max_bucket=0,
    )
    apply_neardup_batch(
        spark, spark.createDataFrame([(2, a)], SCHEMA), rdir, adir, 1,
        threshold=THRESHOLD, max_bucket=0,
    )
    assert _accepted_ids(spark, adir) == [1, 2]
    # sanity: with the default cap the same replay suppresses doc 2
    rdir2, adir2 = str(tmp_path / "reg2"), str(tmp_path / "acc2")
    apply_neardup_batch(
        spark, spark.createDataFrame([(1, a)], SCHEMA), rdir2, adir2, 0,
        threshold=THRESHOLD,
    )
    apply_neardup_batch(
        spark, spark.createDataFrame([(2, a)], SCHEMA), rdir2, adir2, 1,
        threshold=THRESHOLD,
    )
    assert _accepted_ids(spark, adir2) == [1]


def test_dup_heavy_adversarial_batch(spark, tmp_path):
    """r7 verdict task: the survivor pass must stay correct on a batch
    that is almost entirely duplicates (3 exact-copy families of one
    text each plus a history match), with the order-sequential greedy
    loop running distributed per component and driver pair-list memory
    bounded by connected_components' 2M-edge broadcast threshold — not
    by batch dup density. Expected survivors: the first id of each
    family; the family duplicating history is suppressed entirely."""
    a, _, _ = _chain_texts()
    fam2 = _distinct_text(11)
    fam3 = _distinct_text(12)
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    # epoch 0 registers `a` as history
    apply_neardup_batch(
        spark, spark.createDataFrame([(1, a)], SCHEMA), rdir, adir, 0,
        threshold=THRESHOLD,
    )
    # epoch 1: 12 docs, 11 of them duplicates of something
    rows = (
        [(10 + i, a) for i in range(4)]       # all match history -> drop
        + [(20 + i, fam2) for i in range(4)]  # keep 20, drop 21-23
        + [(30 + i, fam3) for i in range(4)]  # keep 30, drop 31-33
    )
    apply_neardup_batch(
        spark, spark.createDataFrame(rows, SCHEMA), rdir, adir, 1,
        threshold=THRESHOLD,
    )
    assert _accepted_ids(spark, adir) == [1, 20, 30]
    reg = read_neardup_registry(spark, rdir)
    assert sorted(r["doc_id"] for r in reg.collect()) == [1, 20, 30]


def test_batch_cut_invariance_on_fixture(spark, tmp_path):
    """Cut-invariance on REAL fixture documents — the exact contract
    q_neardup_registry's benched view carried as a ``cuts_agree``
    column through round 8 (same doc_id%4 thin, same half-cut), moved
    here so the bench stops re-running the machinery 3x per pass
    (round-8 verdict task #7). sf0.001 keeps it a ~seconds test."""
    from pyspark.sql import functions as F

    from self_healing_data_pipeline_spark.sources.readers import read_table

    d = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
    )
    max_id = d.agg(F.max("doc_id")).collect()[0][0] or 0
    half = max_id // 2

    def run(tag, cuts):
        rdir = str(tmp_path / tag / "reg")
        adir = str(tmp_path / tag / "acc")
        for epoch, pred in enumerate(cuts):
            apply_neardup_batch(
                spark, d.filter(pred), rdir, adir, epoch, threshold=0.8
            )
        return set(_accepted_ids(spark, adir))

    one = run("one", [F.lit(True)])
    two = run("two", [F.col("doc_id") <= half, F.col("doc_id") > half])
    assert one == two
    assert 1 <= len(one) <= d.count()
