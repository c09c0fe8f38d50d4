"""Streaming dedup registry (streaming.dedup_registry): cross-batch
keep-first suppression, batching invisibility, replay idempotence and
the true readStream wiring (crash recovery: tests/test_crash_matrix.py)."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.dedup_registry import (
    apply_dedup_batch,
    dedup_stream,
    read_accepted,
    read_registry,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _accepted_ids(spark, accepted_dir):
    df = read_accepted(spark, accepted_dir)
    return sorted(r["doc_id"] for r in df.collect()) if df is not None else []


def _apply(spark, rows, rdir, adir, epoch):
    apply_dedup_batch(
        spark, spark.createDataFrame(rows, SCHEMA), rdir, adir, epoch
    )


def test_cross_batch_duplicate_suppressed(spark, tmp_path):
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    _apply(spark, [(1, "the quick fox"), (2, "other text")], rdir, adir, 0)
    # same content (modulo case/whitespace) arrives again in a later batch
    _apply(spark, [(3, "  THE  quick   FOX "), (4, "brand new")], rdir, adir, 1)
    assert _accepted_ids(spark, adir) == [1, 2, 4]
    reg = {r["fp"]: (r["first_id"], r["first_epoch"])
           for r in read_registry(spark, rdir).collect()}
    assert len(reg) == 3
    assert sorted(v for v, _ in reg.values()) == [1, 2, 4]


def test_within_batch_keep_first_is_lowest_id(spark, tmp_path):
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    _apply(
        spark,
        [(9, "same body"), (2, "same body"), (5, "same body"), (1, "unique")],
        rdir,
        adir,
        0,
    )
    assert _accepted_ids(spark, adir) == [1, 2]


def test_batch_cuts_are_invisible(spark, tmp_path):
    """Any cut of the same ordered stream yields the same accepted set
    and the same final registry fingerprint->first_id map."""
    stream = [
        (1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma"),
        (5, "beta"), (6, "delta"),
    ]
    results = []
    for case, cuts in enumerate(
        [[stream], [stream[:3], stream[3:]], [stream[:1], stream[1:4], stream[4:]]]
    ):
        rdir = str(tmp_path / f"reg{case}")
        adir = str(tmp_path / f"acc{case}")
        for epoch, rows in enumerate(cuts):
            _apply(spark, rows, rdir, adir, epoch)
        reg = {
            r["fp"]: r["first_id"]
            for r in read_registry(spark, rdir).collect()
        }
        results.append((_accepted_ids(spark, adir), reg))
    assert all(r == results[0] for r in results), results
    assert results[0][0] == [1, 2, 4, 6]


def test_replay_is_idempotent(spark, tmp_path):
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    _apply(spark, [(1, "a"), (2, "b")], rdir, adir, 0)
    _apply(spark, [(3, "a"), (4, "c")], rdir, adir, 1)
    once_acc = _accepted_ids(spark, adir)
    once_reg = {r["fp"]: r["first_id"] for r in read_registry(spark, rdir).collect()}
    # crash-after-write, checkpoint-not-committed: the same epoch replays
    _apply(spark, [(3, "a"), (4, "c")], rdir, adir, 1)
    assert _accepted_ids(spark, adir) == once_acc == [1, 2, 4]
    assert {
        r["fp"]: r["first_id"] for r in read_registry(spark, rdir).collect()
    } == once_reg


def test_dedup_stream_end_to_end(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.csv").write_text(
        "doc_id,text\n1,spark rows\n2,arrow batches\n"
    )
    (src / "b2.csv").write_text(
        "doc_id,text\n3,SPARK   rows\n4,new content\n"
    )
    now = os.path.getmtime(src / "b2.csv")
    os.utime(src / "b1.csv", (now - 10, now - 10))
    rdir, adir = str(tmp_path / "reg"), str(tmp_path / "acc")
    dedup_stream(
        spark,
        str(src),
        rdir,
        adir,
        str(tmp_path / "ckpt"),
        SCHEMA,
        max_files_per_trigger=1,
    )
    assert _accepted_ids(spark, adir) == [1, 2, 4]
    reg = read_registry(spark, rdir)
    assert reg.count() == 3
