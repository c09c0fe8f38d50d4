"""CDC apply-changes stream (streaming.cdc): latest-wins merge,
delete handling, exactly-once effect under batch replay."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from self_healing_data_pipeline_spark.streaming.cdc import (
    apply_changes,
    apply_changes_batch,
    latest_change_per_key,
    live_state,
    read_state,
)
from self_healing_data_pipeline_spark.streaming.snapshots import (
    committed_epochs,
    prune_snapshots,
)

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _state_dict(spark, state_dir):
    df = live_state(spark, state_dir)
    return {r["id"]: (r["seq"], r["name"]) for r in df.collect()}


def test_latest_change_per_key_collapses_batch(spark):
    batch = spark.createDataFrame(
        [
            ("upsert", 1, 10, "a"),
            ("upsert", 1, 12, "a2"),
            ("delete", 2, 11, None),
            ("upsert", 2, 9, "b"),
        ],
        SCHEMA,
    )
    got = {
        r["id"]: (r["op"], r["seq"])
        for r in latest_change_per_key(batch, "id", "seq").collect()
    }
    assert got == {1: ("upsert", 12), 2: ("delete", 11)}


def test_apply_changes_stream_merges_and_deletes(spark, tmp_path):
    src = tmp_path / "changes"
    src.mkdir()
    (src / "b1.csv").write_text(
        "op,id,seq,name\nupsert,1,10,alice\nupsert,2,11,bob\nupsert,3,12,carol\n"
    )
    (src / "b2.csv").write_text(
        "op,id,seq,name\nupsert,1,20,alice2\ndelete,2,21,\nupsert,4,22,dave\n"
    )
    # The file source batches in modification-time order; same-millisecond
    # writes would make batch order (and thus snapshot contents, though
    # not the final survivors-by-seq) nondeterministic. Pin b1 older —
    # the realistic CDC arrival order.
    now = os.path.getmtime(src / "b2.csv")
    os.utime(src / "b1.csv", (now - 10, now - 10))
    state = str(tmp_path / "state")
    apply_changes(
        spark,
        str(src),
        state,
        str(tmp_path / "ckpt"),
        SCHEMA,
        key="id",
        seq="seq",
        max_files_per_trigger=1,
    )
    # two files -> two epochs -> two snapshots, latest wins
    assert len([d for d in os.listdir(state) if d.startswith("batch=")]) == 2
    assert _state_dict(spark, state) == {
        1: (20, "alice2"),
        3: (12, "carol"),
        4: (22, "dave"),
    }


def test_apply_changes_batch_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [("upsert", 1, 1, "x"), ("upsert", 2, 2, "y")], SCHEMA
    )
    apply_changes_batch(spark, b0, state, "id", "seq", epoch_id=0)
    b1 = spark.createDataFrame(
        [("upsert", 1, 5, "x2"), ("delete", 2, 6, None)], SCHEMA
    )
    apply_changes_batch(spark, b1, state, "id", "seq", epoch_id=1)
    once = _state_dict(spark, state)
    # crash-after-write, checkpoint-not-committed: the SAME epoch replays
    apply_changes_batch(spark, b1, state, "id", "seq", epoch_id=1)
    assert _state_dict(spark, state) == once == {1: (5, "x2")}


def test_stale_change_does_not_overwrite_newer_state(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 7, 100, "new")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=0,
    )
    # out-of-order delivery: an older change for the same key arrives later
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 7, 50, "old")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=1,
    )
    assert _state_dict(spark, state) == {7: (100, "new")}


def test_out_of_order_delete_is_not_resurrected(spark, tmp_path):
    state = str(tmp_path / "state")
    # the DELETE (seq 21) is processed BEFORE the stale upsert (seq 11)
    apply_changes_batch(
        spark,
        spark.createDataFrame([("delete", 2, 21, None)], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=0,
    )
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 2, 11, "zombie")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=1,
    )
    # tombstone wins: the stale upsert must not resurrect the key
    assert _state_dict(spark, state) == {}
    raw = {r["id"]: r["__deleted"] for r in read_state(spark, state).collect()}
    assert raw == {2: True}


def test_final_state_is_batch_partition_order_independent(spark, tmp_path):
    """Hypothesis-style exhaustive check on a small change log: however
    the log is cut into batches and however those batches are ordered,
    the live state converges to max-seq-per-key (delete wins seq ties)."""
    import itertools

    changes = [
        ("upsert", 1, 1, "a"),
        ("delete", 1, 3, None),
        ("upsert", 1, 2, "b"),
        ("upsert", 2, 5, "c"),
        ("delete", 2, 5, None),  # same-seq tie: delete must win
        ("upsert", 3, 7, "d"),
    ]
    expected = {3: (7, "d")}  # key1 deleted at 3; key2 tie -> delete
    cuts = [[changes[:2], changes[2:4], changes[4:]], [changes[:3], changes[3:]]]
    case = 0
    for batches in cuts:
        for perm in itertools.permutations(range(len(batches))):
            state = str(tmp_path / f"state{case}")
            case += 1
            for epoch, bi in enumerate(perm):
                apply_changes_batch(
                    spark,
                    spark.createDataFrame(batches[bi], SCHEMA),
                    state,
                    "id",
                    "seq",
                    epoch_id=epoch,
                )
            assert _state_dict(spark, state) == expected, (batches, perm)


def _four_epochs(spark, state):
    for epoch in range(4):
        apply_changes_batch(
            spark,
            spark.createDataFrame(
                [("upsert", epoch, epoch + 10, f"v{epoch}")], SCHEMA
            ),
            state,
            "id",
            "seq",
            epoch_id=epoch,
        )


def test_prune_snapshots_keeps_latest_and_state_readable(spark, tmp_path):
    state = str(tmp_path / "state")
    _four_epochs(spark, state)
    before = _state_dict(spark, state)
    pruned = prune_snapshots(state, keep=2)
    assert pruned == [0, 1]
    assert _state_dict(spark, state) == before  # head snapshot untouched


def test_prune_snapshots_counts_only_committed_epochs(spark, tmp_path):
    """A crashed write (footerless ``batch=4``, only ``_temporary``
    inside) must not count toward ``keep``: pruning keeps the two newest
    COMMITTED snapshots and leaves the directory above them alone."""
    state = str(tmp_path / "state")
    _four_epochs(spark, state)
    (tmp_path / "state" / "batch=4" / "_temporary").mkdir(parents=True)
    before = _state_dict(spark, state)
    assert prune_snapshots(state, keep=2) == [0, 1]
    assert committed_epochs(state) == [2, 3]
    assert os.path.isdir(tmp_path / "state" / "batch=4")
    assert _state_dict(spark, state) == before


def test_compact_state_purges_old_tombstones_only(spark, tmp_path):
    """Age-based compaction drops tombstones below the reorder horizon
    and keeps the rest — so a late stale upsert WITHIN the horizon still
    cannot resurrect its key, while ancient tombstones stop accumulating
    forever. Compaction must also replay idempotently like any epoch."""
    from self_healing_data_pipeline_spark.streaming.cdc import compact_state

    state = str(tmp_path / "state")
    apply_changes_batch(
        spark,
        spark.createDataFrame(
            [
                ("delete", 1, 5, None),  # ancient tombstone (below horizon)
                ("delete", 2, 100, None),  # recent tombstone (kept)
                ("upsert", 3, 50, "live"),
            ],
            SCHEMA,
        ),
        state,
        "id",
        "seq",
        epoch_id=0,
    )
    compact_state(spark, state, horizon_seq=50, epoch_id=1)
    raw = {r["id"]: r["__deleted"] for r in read_state(spark, state).collect()}
    assert raw == {2: True, 3: False}  # tombstone 1 physically gone
    # crash-replay of the compaction epoch: same snapshot, same bytes
    compact_state(spark, state, horizon_seq=50, epoch_id=1)
    assert {
        r["id"]: r["__deleted"] for r in read_state(spark, state).collect()
    } == raw
    # a stale upsert within the horizon still hits the kept tombstone
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 2, 80, "zombie")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=2,
    )
    assert _state_dict(spark, state) == {3: (50, "live")}


def test_cdc_heals_change_feed_schema_drift(spark, tmp_path):
    """The change feed drifts mid-stream — a column appears, the key
    widens int->bigint — and the state must evolve instead of crash:
    history null-fills the new column, and the dropped column survives
    on old rows."""
    from pyspark.sql import types as T

    state = str(tmp_path / "state")
    v1 = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("id", T.IntegerType()),
            T.StructField("seq", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    v2 = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("id", T.LongType()),  # widened
            T.StructField("seq", T.LongType()),
            T.StructField("email", T.StringType()),  # added; name dropped
        ]
    )
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 1, 10, "alice")], v1),
        state,
        "id",
        "seq",
        epoch_id=0,
    )
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 2**40, 11, "b@x.io")], v2),
        state,
        "id",
        "seq",
        epoch_id=1,
    )
    snap = live_state(spark, state)
    assert dict(snap.dtypes)["id"] == "bigint"
    rows = {r["id"]: r for r in snap.collect()}
    assert rows[1]["name"] == "alice" and rows[1]["email"] is None
    assert rows[2**40]["email"] == "b@x.io" and rows[2**40]["name"] is None


def test_replay_reads_strictly_prior_epoch(spark, tmp_path):
    """Replay of epoch N must merge against the pre-N snapshot, not its
    own batch=N output — pin it by making batch=N's committed content
    observably different and asserting the replay result ignores it."""
    import shutil

    state = str(tmp_path / "state")
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 1, 1, "a")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=0,
    )
    apply_changes_batch(
        spark,
        spark.createDataFrame([("upsert", 2, 2, "b")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=1,
    )
    # poison batch=1 with an imposter snapshot (key 99); a self-read
    # replay would carry key 99 forward, a strictly-prior read cannot
    shutil.rmtree(tmp_path / "state" / "batch=1")
    imposter = spark.createDataFrame(
        [("upsert", 99, 9, "ghost")], SCHEMA
    )
    apply_changes_batch(spark, imposter, state, "id", "seq", epoch_id=1)
    apply_changes_batch(  # the real epoch-1 batch replays
        spark,
        spark.createDataFrame([("upsert", 2, 2, "b")], SCHEMA),
        state,
        "id",
        "seq",
        epoch_id=1,
    )
    assert _state_dict(spark, state) == {1: (1, "a"), 2: (2, "b")}


def test_same_seq_upsert_tie_is_arrival_order_independent(spark, tmp_path):
    """Two upserts with the SAME seq and different payloads (an
    ill-behaved feed) must converge to one deterministic winner however
    they are batched — the payload-fingerprint tie-break."""
    u1 = ("upsert", 5, 10, "alpha")
    u2 = ("upsert", 5, 10, "beta")
    results = []
    for case, order in enumerate([[u1, u2], [u2, u1]]):
        # same batch, both arrival orders
        state = str(tmp_path / f"one{case}")
        apply_changes_batch(
            spark, spark.createDataFrame(order, SCHEMA), state,
            "id", "seq", epoch_id=0,
        )
        results.append(_state_dict(spark, state))
        # separate batches, both arrival orders
        state = str(tmp_path / f"two{case}")
        for epoch, row in enumerate(order):
            apply_changes_batch(
                spark, spark.createDataFrame([row], SCHEMA), state,
                "id", "seq", epoch_id=epoch,
            )
        results.append(_state_dict(spark, state))
    assert all(r == results[0] for r in results), results
    assert results[0][5][0] == 10 and results[0][5][1] in ("alpha", "beta")
