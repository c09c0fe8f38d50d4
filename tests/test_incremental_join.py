"""Incremental JOIN-view maintenance tests (streaming/incremental_join):
equivalence with the batch join under arbitrary batch splits, deletes on
both sides, replay idempotence, and the true-streaming wiring."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.incremental_join import (
    apply_join_delta_batch,
    maintain_join,
    read_join_view,
    read_side,
)

LEFT_COLS = ["cust_id", "cust_name"]
RIGHT_COLS = ["ord_cust", "ord_total"]

SCHEMA = T.StructType(
    [
        T.StructField("side", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("cust_id", T.LongType()),
        T.StructField("cust_name", T.StringType()),
        T.StructField("ord_cust", T.LongType()),
        T.StructField("ord_total", T.LongType()),
    ]
)


def _row(side, op, seq, **kw):
    return (
        side,
        op,
        seq,
        kw.get("cust_id"),
        kw.get("cust_name"),
        kw.get("ord_cust"),
        kw.get("ord_total"),
    )


def _apply(spark, rows, root, epoch):
    apply_join_delta_batch(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        str(root),
        left_key="cust_id",
        right_key="ord_cust",
        left_cols=LEFT_COLS,
        right_cols=RIGHT_COLS,
        epoch_id=epoch,
    )


def _view(spark, root):
    df = read_join_view(spark, str(root))
    if df is None:
        return set()
    return {
        (r["cust_id"], r["cust_name"], r["ord_cust"], r["ord_total"])
        for r in df.collect()
    }


def test_join_view_matches_batch_join_and_handles_deletes(spark, tmp_path):
    root = tmp_path / "j1"
    # epoch 0: two customers, one matching order
    _apply(
        spark,
        [
            _row("left", "upsert", 1, cust_id=1, cust_name="alice"),
            _row("left", "upsert", 1, cust_id=2, cust_name="bob"),
            _row("right", "upsert", 1, ord_cust=1, ord_total=100),
        ],
        root,
        0,
    )
    assert _view(spark, root) == {(1, "alice", 1, 100)}
    # epoch 1: order for bob, rename alice (join must re-pair, not dup)
    _apply(
        spark,
        [
            _row("right", "upsert", 2, ord_cust=2, ord_total=50),
            _row("left", "upsert", 2, cust_id=1, cust_name="alice2"),
        ],
        root,
        1,
    )
    assert _view(spark, root) == {
        (1, "alice2", 1, 100),
        (2, "bob", 2, 50),
    }
    # epoch 2: delete bob (left) -> his pair disappears; delete alice's
    # order (right) -> her pair disappears though she still exists
    _apply(
        spark,
        [
            _row("left", "delete", 3, cust_id=2),
            _row("right", "delete", 3, ord_cust=1),
        ],
        root,
        2,
    )
    assert _view(spark, root) == set()
    left = read_side(spark, str(root), "left")
    assert {r["cust_id"] for r in left.collect()} == {1}


def test_arbitrary_batch_splits_converge_to_batch_join(spark, tmp_path):
    # 8 left upserts, 10 right upserts + a couple of deletes, split into
    # different batch layouts -> identical final views
    lefts = [
        _row("left", "upsert", i, cust_id=i % 5, cust_name=f"c{i}")
        for i in range(1, 9)
    ]
    rights = [
        _row("right", "upsert", i, ord_cust=i % 6, ord_total=i * 10)
        for i in range(1, 11)
    ]
    deletes = [
        _row("left", "delete", 99, cust_id=3),
        _row("right", "delete", 99, ord_cust=0),
    ]
    events = lefts + rights + deletes

    views = []
    for tag, chunks in (
        ("one", [events]),
        ("three", [events[:7], events[7:15], events[15:]]),
        ("many", [[e] for e in events]),
    ):
        root = tmp_path / f"split_{tag}"
        for i, chunk in enumerate(chunks):
            _apply(spark, chunk, root, i)
        views.append(_view(spark, root))
    assert views[0] == views[1] == views[2]

    # ground truth: plain batch join of the final sides
    final_left = {(i % 5): f"c{i}" for i in range(1, 9)}
    final_left.pop(3)
    final_right = {(i % 6): i * 10 for i in range(1, 11)}
    final_right.pop(0)
    want = {
        (k, v, k, final_right[k])
        for k, v in final_left.items()
        if k in final_right
    }
    assert views[0] == want


def test_replay_is_idempotent(spark, tmp_path):
    root = tmp_path / "replay"
    b0 = [
        _row("left", "upsert", 1, cust_id=1, cust_name="a"),
        _row("right", "upsert", 1, ord_cust=1, ord_total=7),
    ]
    b1 = [_row("right", "upsert", 2, ord_cust=1, ord_total=8)]
    _apply(spark, b0, root, 0)
    _apply(spark, b1, root, 1)
    before = _view(spark, root)
    _apply(spark, b1, root, 1)  # at-least-once redelivery of epoch 1
    assert _view(spark, root) == before == {(1, "a", 1, 8)}


def test_empty_delta_epoch_commits_nothing(spark, tmp_path):
    """An epoch whose delta touches neither side leaves the view as it
    is: no join snapshot is written, and the view reads back unchanged
    (resolution is gap-tolerant)."""
    root = tmp_path / "empty"
    _apply(
        spark,
        [
            _row("left", "upsert", 1, cust_id=1, cust_name="a"),
            _row("right", "upsert", 1, ord_cust=1, ord_total=7),
        ],
        root,
        0,
    )
    before = _view(spark, root)
    _apply(spark, [], root, 1)
    assert not (root / "join" / "batch=1").exists()
    assert _view(spark, root) == before == {(1, "a", 1, 7)}
    _apply(spark, [_row("right", "upsert", 2, ord_cust=1, ord_total=8)], root, 2)
    assert _view(spark, root) == {(1, "a", 1, 8)}


def test_maintain_join_streaming_wiring(spark, tmp_path):
    import time

    src = tmp_path / "feed"
    b0 = [
        _row("left", "upsert", 1, cust_id=1, cust_name="a"),
        _row("left", "upsert", 1, cust_id=2, cust_name="b"),
        _row("right", "upsert", 1, ord_cust=2, ord_total=5),
    ]
    b1 = [
        _row("right", "upsert", 2, ord_cust=1, ord_total=9),
        _row("left", "delete", 2, cust_id=2),
    ]
    for i, rows in enumerate([b0, b1]):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        time.sleep(1.1)  # distinct mod times -> deterministic batch order
    maintain_join(
        spark,
        str(src),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        SCHEMA,
        left_key="cust_id",
        right_key="ord_cust",
        left_cols=LEFT_COLS,
        right_cols=RIGHT_COLS,
        max_files_per_trigger=1,
    )
    assert _view(spark, tmp_path / "state") == {(1, "a", 1, 9)}


def test_same_key_names_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        apply_join_delta_batch(
            spark,
            spark.createDataFrame([], SCHEMA),
            str(tmp_path / "bad"),
            left_key="k",
            right_key="k",
            left_cols=["k"],
            right_cols=["k"],
            epoch_id=0,
        )


def test_delta_join_never_recomputes_standing_pairs(spark, tmp_path):
    """The per-batch plan touches only delta-keyed rows: after a delta
    for key 1, the join snapshot's rows for OTHER keys are byte-identical
    carried-forward rows (same values), and the fresh-pair branch input
    is the single touched key."""
    root = tmp_path / "noredo"
    base = [
        _row("left", "upsert", 1, cust_id=k, cust_name=f"c{k}")
        for k in range(10)
    ] + [
        _row("right", "upsert", 1, ord_cust=k, ord_total=k * 100)
        for k in range(10)
    ]
    _apply(spark, base, root, 0)
    _apply(
        spark,
        [_row("left", "upsert", 2, cust_id=1, cust_name="NEW")],
        root,
        1,
    )
    view = _view(spark, root)
    assert (1, "NEW", 1, 100) in view
    assert len(view) == 10
    untouched = {v for v in view if v[0] != 1}
    assert untouched == {(k, f"c{k}", k, k * 100) for k in range(10) if k != 1}


# ------------------------------------------------- N:1 fact ⋈ dimension

from self_healing_data_pipeline_spark.streaming.incremental_join import (  # noqa: E402
    apply_fact_dim_delta_batch,
    read_fact_dim_view,
)

FD_SCHEMA = T.StructType(
    [
        T.StructField("side", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("cust_fk", T.LongType()),
        T.StructField("amount", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("segment", T.StringType()),
    ]
)
FACT_COLS = ["order_id", "cust_fk", "amount"]
DIM_COLS = ["cid", "segment"]


def _fd_row(side, op, seq, **kw):
    return (
        side,
        op,
        seq,
        kw.get("order_id"),
        kw.get("cust_fk"),
        kw.get("amount"),
        kw.get("cid"),
        kw.get("segment"),
    )


def _fd_apply(spark, rows, root, epoch):
    apply_fact_dim_delta_batch(
        spark,
        spark.createDataFrame(rows, FD_SCHEMA),
        str(root),
        fact_key="order_id",
        fact_fk="cust_fk",
        dim_key="cid",
        fact_cols=FACT_COLS,
        dim_cols=DIM_COLS,
        epoch_id=epoch,
    )


def _fd_view(spark, root):
    df = read_fact_dim_view(spark, str(root))
    if df is None:
        return set()
    return {
        (r["order_id"], r["cust_fk"], r["amount"], r["cid"], r["segment"])
        for r in df.collect()
    }


def test_fact_dim_empty_delta_epoch_commits_nothing(spark, tmp_path):
    root = tmp_path / "fd_empty"
    _fd_apply(
        spark,
        [
            _fd_row("dim", "upsert", 1, cid=1, segment="s"),
            _fd_row("fact", "upsert", 1, order_id=1, cust_fk=1, amount=5),
        ],
        root,
        0,
    )
    before = _fd_view(spark, root)
    _fd_apply(spark, [], root, 1)
    assert not (root / "join" / "batch=1").exists()
    assert _fd_view(spark, root) == before == {(1, 1, 5, 1, "s")}


def test_dim_update_repairs_all_referencing_facts(spark, tmp_path):
    root = tmp_path / "fd1"
    _fd_apply(
        spark,
        [
            _fd_row("dim", "upsert", 1, cid=1, segment="GOLD"),
            _fd_row("dim", "upsert", 1, cid=2, segment="SILVER"),
            _fd_row("fact", "upsert", 1, order_id=10, cust_fk=1, amount=100),
            _fd_row("fact", "upsert", 1, order_id=11, cust_fk=1, amount=200),
            _fd_row("fact", "upsert", 1, order_id=12, cust_fk=2, amount=300),
        ],
        root,
        0,
    )
    assert _fd_view(spark, root) == {
        (10, 1, 100, 1, "GOLD"),
        (11, 1, 200, 1, "GOLD"),
        (12, 2, 300, 2, "SILVER"),
    }
    # SCD1 dimension update: BOTH facts referencing cid=1 re-pair
    _fd_apply(
        spark, [_fd_row("dim", "upsert", 2, cid=1, segment="PLAT")], root, 1
    )
    assert _fd_view(spark, root) == {
        (10, 1, 100, 1, "PLAT"),
        (11, 1, 200, 1, "PLAT"),
        (12, 2, 300, 2, "SILVER"),
    }


def test_dim_delete_drops_pairs_fact_moves_fk(spark, tmp_path):
    root = tmp_path / "fd2"
    _fd_apply(
        spark,
        [
            _fd_row("dim", "upsert", 1, cid=1, segment="A"),
            _fd_row("dim", "upsert", 1, cid=2, segment="B"),
            _fd_row("fact", "upsert", 1, order_id=10, cust_fk=1, amount=5),
        ],
        root,
        0,
    )
    # delete dim 1 -> the pair disappears (fact remains unmatched)
    _fd_apply(spark, [_fd_row("dim", "delete", 2, cid=1)], root, 1)
    assert _fd_view(spark, root) == set()
    # fact re-keys to dim 2 -> pairs with B
    _fd_apply(
        spark,
        [_fd_row("fact", "upsert", 3, order_id=10, cust_fk=2, amount=5)],
        root,
        2,
    )
    assert _fd_view(spark, root) == {(10, 2, 5, 2, "B")}


def test_fact_dim_splits_converge_and_replay_idempotent(spark, tmp_path):
    events = (
        [
            _fd_row("dim", "upsert", i, cid=i % 4, segment=f"s{i}")
            for i in range(1, 7)
        ]
        + [
            _fd_row(
                "fact", "upsert", i, order_id=i, cust_fk=i % 5, amount=i * 10
            )
            for i in range(1, 12)
        ]
        + [_fd_row("dim", "delete", 99, cid=2)]
    )
    views = []
    for tag, chunks in (("one", [events]), ("many", [[e] for e in events])):
        root = tmp_path / f"fd_{tag}"
        for i, chunk in enumerate(chunks):
            _fd_apply(spark, chunk, root, i)
        views.append(_fd_view(spark, root))
    assert views[0] == views[1]
    # ground truth
    dims = {i % 4: f"s{i}" for i in range(1, 7)}
    dims.pop(2)
    facts = {i: (i % 5, i * 10) for i in range(1, 12)}
    want = {
        (oid, fk, amt, fk, dims[fk])
        for oid, (fk, amt) in facts.items()
        if fk in dims
    }
    assert views[0] == want
    # replay the final epoch of the many-split run
    root = tmp_path / "fd_many"
    _fd_apply(spark, [events[-1]], root, len(events) - 1)
    assert _fd_view(spark, root) == want


def test_prune_join_snapshots_keeps_state_readable(spark, tmp_path):
    from self_healing_data_pipeline_spark.streaming.incremental_join import (
        prune_join_snapshots,
    )

    root = tmp_path / "prune"
    for e in range(4):
        _fd_apply(
            spark,
            [
                _fd_row("dim", "upsert", e + 1, cid=1, segment=f"s{e}"),
                _fd_row(
                    "fact", "upsert", e + 1, order_id=e, cust_fk=1, amount=e
                ),
            ],
            root,
            e,
        )
    before = _fd_view(spark, root)
    pruned = prune_join_snapshots(str(root), keep=2)
    assert pruned["join"] == [0, 1] and pruned["fact"] == [0, 1]
    assert _fd_view(spark, root) == before  # head snapshot untouched
