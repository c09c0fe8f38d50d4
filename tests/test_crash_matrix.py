"""Crash-point matrix for the seven epoch-snapshot stores.

Every store commits through ``streaming.snapshots.commit_snapshot``, so
a crash anywhere in an epoch's state writes happens at one of its
commit calls. For each store and each commit call of its second epoch
the matrix injects a crash

* ``torn``: a footerless ``batch=N/_temporary`` is left and the commit
  never finishes (a crash mid-``parquet()``), or
* ``committed``: the commit finishes, then the process dies before the
  epoch's next write or its checkpoint,

checks that every reader still resolves only committed snapshots,
replays the epoch (foreachBatch's at-least-once delivery) and asserts
that every store directory holds exactly the committed rows of a run
without the crash.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.streaming import (
    cascade,
    cdc,
    dedup_registry,
    heavy_hitters,
    incremental_join,
    neardup_registry,
    rollup,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    committed_epochs,
    read_all_snapshots,
    read_latest_snapshot,
)


class Crash(RuntimeError):
    pass


# Each store's epoch body over a few rows: run(spark, root, epoch).


def _cdc(spark, root, epoch):
    rows = [
        [("upsert", 1, 1, "a"), ("upsert", 2, 2, "b")],
        [("upsert", 1, 3, "a2"), ("delete", 2, 4, None), ("upsert", 3, 5, "c")],
    ][epoch]
    batch = spark.createDataFrame(
        rows, "op string, id long, seq long, name string"
    )
    cdc.apply_changes_batch(spark, batch, f"{root}/state", "id", "seq", epoch)


def _rollup(spark, root, epoch):
    rows = [
        [("2024-01-01 10:05:00", "click", 1.25), ("2024-01-01 11:00:00", "view", 2.5)],
        [("2024-01-01 10:30:00", "click", 0.75), ("2024-01-01 12:00:00", "buy", 9.99)],
    ][epoch]
    batch = spark.createDataFrame(
        rows, "ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    partials = rollup.aggregate_batch(
        batch, F.date_trunc("hour", "ts"), ["event_type"], "value"
    )
    rollup.merge_rollup(
        spark, partials, f"{root}/state", ["event_type"], epoch
    )


def _heavy_hitters(spark, root, epoch):
    items = [
        ["a"] * 5 + ["b"] * 3 + ["c", "d"],
        ["a"] * 2 + ["e"] * 4 + ["b"],
    ][epoch]
    batch = spark.createDataFrame([(i,) for i in items], "item string")
    heavy_hitters.apply_heavy_hitters_batch(
        spark, batch, f"{root}/state", epoch, k=2
    )


_SENTENCE = (
    "the quick brown fox jumps over the lazy dog while the farmer walks "
    "to the market and sells fresh bread to the people of the town "
)


def _cascade(spark, root, epoch):
    rows = [
        [(1, _SENTENCE), (2, _SENTENCE.upper()), (3, "short")],
        [(4, _SENTENCE), (5, _SENTENCE + "again today"), (6, "1234 " * 30)],
    ][epoch]
    batch = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("n_chars", F.length("text"))
    cascade.apply_cascade_batch(spark, batch, str(root), epoch)


def _dedup_registry(spark, root, epoch):
    rows = [
        [(1, "a b"), (2, "c"), (3, "A  B")],
        [(4, "c"), (5, "d"), (6, "e")],
    ][epoch]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    dedup_registry.apply_dedup_batch(
        spark, batch, f"{root}/reg", f"{root}/acc", epoch
    )


def _doc(seed):
    rng = random.Random(seed)
    return " ".join(f"w{rng.randrange(50)}" for _ in range(60))


def _neardup_registry(spark, root, epoch):
    near = _doc(1).replace("w1 ", "x1 ", 1)
    rows = [
        [(1, _doc(1)), (2, _doc(2))],
        [(3, near), (4, _doc(4)), (5, _doc(2))],
    ][epoch]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    neardup_registry.apply_neardup_batch(
        spark, batch, f"{root}/reg", f"{root}/acc", epoch
    )


def _incremental_join(spark, root, epoch):
    rows = [
        [
            ("left", "upsert", 1, 1, "ann", None, None),
            ("right", "upsert", 1, None, None, 1, 10),
        ],
        [
            ("left", "upsert", 2, 2, "bob", None, None),
            ("right", "upsert", 2, None, None, 2, 20),
            ("right", "upsert", 3, None, None, 1, 11),
        ],
    ][epoch]
    batch = spark.createDataFrame(
        rows,
        "side string, op string, seq long, cust_id long, cust_name string,"
        " ord_cust long, ord_total long",
    )
    incremental_join.apply_join_delta_batch(
        spark,
        batch,
        str(root),
        left_key="cust_id",
        right_key="ord_cust",
        left_cols=["cust_id", "cust_name"],
        right_cols=["ord_cust", "ord_total"],
        epoch_id=epoch,
    )


#: store -> (module, epoch body, store dirs, commit calls per epoch)
STORES = {
    "cdc": (cdc, _cdc, ["state"], 1),
    "rollup": (rollup, _rollup, ["state"], 1),
    "heavy_hitters": (heavy_hitters, _heavy_hitters, ["state"], 1),
    "cascade": (cascade, _cascade, ["counters", "registry"], 2),
    "dedup_registry": (dedup_registry, _dedup_registry, ["acc", "reg"], 2),
    "neardup_registry": (
        neardup_registry, _neardup_registry, ["acc", "reg"], 2
    ),
    "incremental_join": (
        incremental_join, _incremental_join, ["left", "right", "join"], 3
    ),
}
CASES = [
    (store, point, mode)
    for store, (_, _, _, commits) in STORES.items()
    for point in range(commits)
    for mode in ("torn", "committed")
]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _committed_rows(spark, root, dirs):
    """{store dir: {epoch: sorted rows}} over every committed snapshot.

    Each snapshot, and the union of them all, must resolve to exactly
    the schema Spark infers from the files, whether its schema was
    recorded at commit or is read from a copied directory."""
    out = {}
    for d in dirs:
        path = f"{root}/{d}"
        out[d] = {}
        for e in committed_epochs(path):
            snap = read_latest_snapshot(spark, path, before_epoch=e + 1)
            inferred = spark.read.parquet(f"{path}/batch={e}").schema
            assert snap.schema == inferred, (d, e)
            out[d][e] = _rows(snap)
        if out[d]:
            paths = [f"{path}/batch={e}" for e in out[d]]
            union = read_all_snapshots(spark, path)
            assert union.schema == spark.read.parquet(*paths).schema, d
    return out


@pytest.fixture(scope="module")
def baselines(spark, tmp_path_factory):
    """Per store: a copy of the state after epoch 0 (every case starts
    from it) and the committed rows after a crash-free epoch 1."""
    cache = {}

    def get(store):
        if store not in cache:
            module, run, dirs, commits = STORES[store]
            base = tmp_path_factory.mktemp(f"base_{store}")
            run(spark, base / "run", 0)
            shutil.copytree(base / "run", base / "after0")
            real, calls = module.commit_snapshot, []

            def counting(df, state_dir, epoch_id):
                calls.append(state_dir)
                real(df, state_dir, epoch_id)

            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(module, "commit_snapshot", counting)
                run(spark, base / "run", 1)
            assert len(calls) == commits, calls
            want = _committed_rows(spark, base / "run", dirs)
            cache[store] = (base / "after0", want)
        return cache[store]

    return get


@pytest.mark.parametrize("store,point,mode", CASES)
def test_crash_at_every_commit_converges(
    spark, tmp_path, monkeypatch, baselines, store, point, mode
):
    module, run, dirs, _ = STORES[store]
    after0, want = baselines(store)
    root = tmp_path / "run"
    shutil.copytree(after0, root)
    real, calls = module.commit_snapshot, []

    def crashing(df, state_dir, epoch_id):
        calls.append(state_dir)
        if len(calls) - 1 != point:
            real(df, state_dir, epoch_id)
            return
        if mode == "torn":
            os.makedirs(
                os.path.join(state_dir, f"batch={epoch_id}", "_temporary")
            )
        else:
            real(df, state_dir, epoch_id)
        raise Crash(state_dir)

    monkeypatch.setattr(module, "commit_snapshot", crashing)
    with pytest.raises(Crash):
        run(spark, root, 1)
    monkeypatch.setattr(module, "commit_snapshot", real)

    # Before the replay, readers see only committed snapshots: the torn
    # epoch is not committed, and each store's newest committed
    # snapshot holds the crash-free rows of that epoch.
    if mode == "torn":
        assert 1 not in committed_epochs(calls[-1])
    for d in dirs:
        epochs = committed_epochs(f"{root}/{d}")
        if epochs:
            latest = read_latest_snapshot(spark, f"{root}/{d}")
            assert _rows(latest) == want[d][epochs[-1]], d

    run(spark, root, 1)  # foreachBatch re-delivers the epoch
    assert _committed_rows(spark, root, dirs) == want
