"""Batch-74 semantics pins (the GROUPS-mode precedent: hash gates prove
cross-engine agreement; these tests pin the SEMANTICS independently).

- Interval RANGE frame: hand-computed fixture — the 1-hour-PRECEDING
  bound is INCLUSIVE and RANGE peers (equal timestamps) enter together.
- SemDeDup: independent numpy twin of the whole pipeline (seed
  centroids → argmax assignment → within-cluster cosines → keep-first
  drop rule) must reproduce the dropped set and each dup_of exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from self_healing_data_pipeline_spark import registry
from self_healing_data_pipeline_spark.queries.dedup import (
    _SEMDEDUP_MIN_K,
    _SEMDEDUP_TARGET_CLUSTER,
    _SEMDEDUP_TAU,
)
from self_healing_data_pipeline_spark.queries.sql_aggregates import _RANGE_INTERVAL_SQL

registry.load_all()


def test_interval_range_frame_hand_computed(spark):
    rows = [
        (1, 10, "2024-01-01 00:00:00", 1.0),
        (2, 10, "2024-01-01 00:30:00", 2.0),
        (3, 10, "2024-01-01 01:00:00", 4.0),  # 00:00 is EXACTLY 1h back
        (4, 10, "2024-01-01 01:00:00", 8.0),  # RANGE peer of event 3
        (5, 10, "2024-01-01 02:45:00", 16.0),  # alone in its hour
        (6, 20, "2024-01-01 00:59:00", 32.0),  # other partition
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    ).selectExpr(
        "event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value"
    )
    df.createOrReplaceTempView("__ri_fixture")
    out = {
        r["event_id"]: (r["n_1h"], r["sum_1h"])
        for r in spark.sql(
            _RANGE_INTERVAL_SQL.format(
                ts_fmt="date_format(ts, 'yyyy-MM-dd HH:mm:ss')",
                table="__ri_fixture",
            )
        ).collect()
    }
    # Inclusive lower bound: events 3/4 see event 1 (exactly 1h back),
    # event 2, and EACH OTHER (equal-ts peers enter the frame together).
    assert out[1] == (1, 1.0)
    assert out[2] == (2, 3.0)
    assert out[3] == (4, 15.0)
    assert out[4] == (4, 15.0)
    assert out[5] == (1, 16.0)
    assert out[6] == (1, 32.0)


def test_semdedup_matches_numpy_twin(spark, sf_dir):
    out = registry.QUERIES["q_semdedup"](spark, sf_dir).collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values(
        "vec_id"
    )
    X = np.stack(emb["embedding"].to_numpy()).astype("float64")
    ids = emb["vec_id"].to_numpy()
    k = max(_SEMDEDUP_MIN_K, len(ids) // _SEMDEDUP_TARGET_CLUSTER)
    seeds = X[:k]
    nrm = np.linalg.norm(seeds, axis=1)
    nrm[nrm == 0] = 1.0
    assign = (X @ (seeds / nrm[:, None]).T).argmax(axis=1)
    xn = X / np.linalg.norm(X, axis=1)[:, None]
    expect = {}
    for c in np.unique(assign):
        idx = np.where(assign == c)[0]
        s = xn[idx] @ xn[idx].T
        for j in range(1, len(idx)):
            earlier = np.where(s[j, :j] >= _SEMDEDUP_TAU)[0]
            if len(earlier):
                e = earlier[0]  # lowest id: idx is vec_id-sorted
                expect[int(ids[idx[j]])] = (
                    int(c),
                    int(ids[idx[e]]),
                    float(s[j, e]),
                )
    got = {
        r["vec_id"]: (r["cluster_id"], r["dup_of"], r["cos_sim"])
        for r in out
    }
    assert set(got) == set(expect)
    for v, (c, dup, cos) in expect.items():
        assert got[v][0] == c
        assert got[v][1] == dup
        # engine folds float32 PRODUCTS (array<float> zip_with); the
        # twin is float64 BLAS — agree to single-precision tolerance
        assert abs(got[v][2] - cos) < 1e-5


def test_semdedup_fixture_has_no_assignment_ties(sf_dir):
    """Round-11 advisor probe: q_semdedup's hash-exact oracle rides on
    the acknowledged non-mirrored chain — engine centroid assignment is
    numpy float64 BLAS matmul argmax vs the oracle's sequential-fold
    dot, so a near-tie (margin ~1e-12) could flip a cluster and change
    the dropped set. This pins the fixture AWAY from that cliff: the
    winning centroid's dot must beat the runner-up by far more than
    any fold-vs-BLAS rounding skew, at EVERY scale fixture. A future
    fixture regeneration that introduces ties fails HERE with a
    diagnosable message instead of as an opaque driver hash mismatch."""
    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        emb = pd.read_parquet(path).sort_values("vec_id")
        X = np.stack(emb["embedding"].to_numpy()).astype("float64")
        k = max(_SEMDEDUP_MIN_K, len(X) // _SEMDEDUP_TARGET_CLUSTER)
        seeds = X[:k]
        nrm = np.linalg.norm(seeds, axis=1)
        nrm[nrm == 0] = 1.0
        dots = X @ (seeds / nrm[:, None]).T
        top2 = np.partition(dots, -2, axis=1)[:, -2:]
        margin = float((top2[:, 1] - top2[:, 0]).min())
        assert margin > 1e-9, (
            f"{sf}: min centroid-assignment argmax margin {margin:.3e} is "
            "within float rounding skew of the oracle's sequential fold — "
            "the q_semdedup hash gate is no longer safe on this fixture; "
            "re-seed or re-derive the oracle at matched precision"
        )


def test_semdedup_value_grain_equals_vector_grain_on_duplicates(spark):
    """The value-grain collapse must be EXACT under heavy duplication —
    the case it exists for. Crafted set (ids 0..9, 4-dim):

    - value A at ids 0, 3, 5, 9 (a hot template vector),
    - value B = A rotated slightly (cos(A,B) ≥ τ) at ids 1, 7,
    - value C orthogonal to A (cos < τ) at ids 2, 8,
    - value D = -A (cos = -1) at ids 4, 6.

    Brute-force vector-grain numpy twin computes the expected drops.
    """
    import pandas as pd

    from self_healing_data_pipeline_spark.operators.similarity import (
        deterministic_centroids,
        semdedup_drops,
    )

    A = np.array([1.0, 0.0, 0.0, 0.0], dtype="float32")
    B = np.array([0.95, 0.3122499, 0.0, 0.0], dtype="float32")
    C = np.array([0.0, 0.0, 1.0, 0.0], dtype="float32")
    D = (-A).astype("float32")
    vals = [A, B, C, A, D, A, D, B, C, A]
    pdf = pd.DataFrame(
        {"vec_id": list(range(10)), "embedding": [list(v) for v in vals]}
    )
    df = spark.createDataFrame(pdf).selectExpr(
        "CAST(vec_id AS BIGINT) AS vec_id",
        "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
    )
    tau, min_k, target = 0.4, 2, 5  # k = max(2, 10//5) = 2 clusters
    out = {
        r["vec_id"]: (r["cluster_id"], r["dup_of"], r["cos_sim"])
        for r in semdedup_drops(
            df, tau=tau, min_k=min_k, target_cluster=target
        ).collect()
    }
    # vector-grain brute force (float64 twin; ids/clusters exact,
    # cosines to float32 tolerance)
    X = np.stack(vals).astype("float64")
    cents = deterministic_centroids(df, 2)
    assign = (X @ cents.T).argmax(axis=1)
    xn = X / np.linalg.norm(X, axis=1)[:, None]
    expect = {}
    for j in range(10):
        cand = [
            i
            for i in range(j)
            if assign[i] == assign[j] and xn[i] @ xn[j] >= tau
        ]
        if cand:
            e = min(cand)
            expect[j] = (int(assign[j]), e, float(xn[e] @ xn[j]))
    assert set(out) == set(expect)
    for v, (c, dup, cos) in expect.items():
        assert out[v][0] == c, (v, out[v], (c, dup, cos))
        assert out[v][1] == dup, (v, out[v], (c, dup, cos))
        assert abs(out[v][2] - cos) < 1e-6


def test_batch74_plan_shapes(spark, sf_dir):
    import io
    from contextlib import redirect_stdout

    for key in ("q_window_range_interval", "q_semdedup"):
        buf = io.StringIO()
        with redirect_stdout(buf):
            registry.QUERIES[key](spark, sf_dir).explain("formatted")
        p = buf.getvalue()
        assert "SinglePartition" not in p, key
        assert "CartesianProduct" not in p, key
