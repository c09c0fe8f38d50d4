"""Continuous heavy-hitters maintenance (streaming.heavy_hitters): the
Misra-Gries guarantees must hold after ANY batching of the stream and
replay must be idempotent — the registry-family contract applied to
frequency state (crash recovery: tests/test_crash_matrix.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.heavy_hitters import (
    apply_heavy_hitters_batch,
    maintain_heavy_hitters,
    read_summary,
)

K = 4


def _stream(spark):
    """Deterministic heavy-tailed stream: 'hot' 400×, 'warm' 120×, and
    30 cold items 10× each (n = 820). phi-heavy at 1/(K+1)=0.2: hot
    (48.8%) and nothing else; 32 distinct > K so compression fires."""
    rows = (
        [("hot",)] * 400
        + [("warm",)] * 120
        + [(f"cold{i}",) for i in range(30) for _ in range(10)]
    )
    return spark.createDataFrame(rows, ["item"])


def _exact(spark):
    return {
        r["item"]: r["c"]
        for r in _stream(spark).groupBy("item").agg(F.count("*").alias("c")).collect()
    }


def _check_guarantees(spark, state_dir):
    summary, n_total = read_summary(spark, state_dir)
    exact = _exact(spark)
    n = sum(exact.values())
    assert n_total == n  # every row folded exactly once
    got = {r["item"]: r["cnt"] for r in summary.collect()}
    assert len(got) <= K
    for item, cnt in got.items():
        assert 0 < cnt <= exact[item]  # lower bound
    for item, c in exact.items():
        # error bound holds for EVERY item (absent => implicit 0)
        assert c - got.get(item, 0) <= n / (K + 1)
        if c * (K + 1) > n:  # phi-heavy => guaranteed present
            assert item in got, item


def test_guarantees_hold_single_batch(spark, tmp_path):
    state = str(tmp_path / "s1")
    apply_heavy_hitters_batch(spark, _stream(spark), state, 0, k=K)
    _check_guarantees(spark, state)


def test_guarantees_hold_under_adversarial_batching(spark, tmp_path):
    # four skewed cuts: all-hot first, then cold floods — the batching
    # that breaks naive per-batch top-k but not a mergeable summary
    df = _stream(spark).withColumn("rid", F.monotonically_increasing_id())
    state = str(tmp_path / "s4")
    cuts = [
        F.col("item") == "hot",
        F.col("item") == "warm",
        F.col("item").startswith("cold") & (F.col("rid") % 2 == 0),
        F.col("item").startswith("cold") & (F.col("rid") % 2 == 1),
    ]
    for epoch, pred in enumerate(cuts):
        apply_heavy_hitters_batch(
            spark, df.filter(pred).select("item"), state, epoch, k=K
        )
    _check_guarantees(spark, state)


def test_replay_is_idempotent(spark, tmp_path):
    df = _stream(spark)
    state = str(tmp_path / "sr")
    b1 = df.limit(500)
    apply_heavy_hitters_batch(spark, b1, state, 0, k=K)
    apply_heavy_hitters_batch(spark, df, state, 1, k=K)
    after_first = sorted(
        (r["item"] or "", r["cnt"], r["n_total"])
        for r in spark.read.parquet(os.path.join(state, "batch=1")).collect()
    )
    # epoch 1 re-delivered (foreachBatch at-least-once): must rewrite
    # the same state, not double-count
    apply_heavy_hitters_batch(spark, df, state, 1, k=K)
    after_replay = sorted(
        (r["item"] or "", r["cnt"], r["n_total"])
        for r in spark.read.parquet(os.path.join(state, "batch=1")).collect()
    )
    assert after_replay == after_first


def test_readstream_drain_matches_direct_apply(spark, tmp_path):
    src = str(tmp_path / "src")
    df = _stream(spark).withColumn("rid", F.monotonically_increasing_id())
    # three source files = three stream micro-batches (availableNow)
    for i in range(3):
        df.filter(F.col("rid") % 3 == i).select("item").write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"part{i}"))
    state = str(tmp_path / "ss")
    maintain_heavy_hitters(
        spark,
        os.path.join(src, "part*"),
        state,
        str(tmp_path / "ckpt"),
        T.StructType([T.StructField("item", T.StringType())]),
        k=K,
    )
    _check_guarantees(spark, state)
