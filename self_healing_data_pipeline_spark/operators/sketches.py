"""KMV (bottom-k / theta) sketches for distinct-set containment — the
100 TB path for join-relationship discovery (reference `README.md:21`,
the "discover relationships between datasets" promise; SCALE.md names
sketch containment as the scale path verified by the exact form in
`queries.catalog.q_join_discovery`).

A column's KMV sketch is the k smallest ``xxhash64`` values of its
distinct values. For two sketches with thresholds (kth-minimum) θ_A and
θ_B, every distinct value hashing below θ = min(θ_A, θ_B) is IN the
sketch of its column, so

    containment(A ⊆ B)  ≈  |{h ∈ S_A : h < θ} ∩ S_B| / |{h ∈ S_A : h < θ}|

is exact 1.0 for true subsets (no sampling error on real FK edges) and
an unbiased sample estimate otherwise — which is why a 0.95 threshold
separates cleanly.

Build plan (two scans, both sketch-bounded):

1. **Profile scan** — one pass per table computing ``n_rows`` and
   ``approx_count_distinct`` per candidate column. HLL state is
   constant-size and merged map-side: the shuffle carries one sketch
   per (table, column), not data.
2. **Sketch scan** — hash each value, keep only hashes below a
   per-column threshold ``p = min(1, oversample·k / distinct_est)``
   (map-side filter: ~oversample·k survivors per column leave the
   scan), then exact bottom-k by window over the tiny survivor set.
   The wide stages downstream see ≤ k rows per column, ever.

Versus the exact formulation, the value-overlap self-join shrinks from
"all distinct keys" (billions of rows at 100 TB) to k rows per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.sources.readers import read_table


def column_profiles(
    spark, sf_dir: str, candidates: list[tuple[str, str]], rsd: float = 0.01
) -> DataFrame:
    """(tbl, col, n_rows, distinct_est) — ONE scan per table for all its
    candidate columns (same single-scan explode discipline as the exact
    q_join_discovery)."""
    by_table: dict[str, list[str]] = {}
    for t, c in candidates:
        by_table.setdefault(t, []).append(c)
    frames = []
    for t, cols in by_table.items():
        df = read_table(spark, sf_dir, t)
        frames.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                *[
                    F.approx_count_distinct(c, rsd=rsd).alias(f"d_{c}")
                    for c in cols
                ],
            )
            .select(
                F.lit(t).alias("tbl"),
                F.col("n_rows"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("col"),
                                F.col(f"d_{c}").alias("distinct_est"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("dc"),
            )
            .select("tbl", F.col("dc.col").alias("col"), "n_rows", "dc.distinct_est")
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def kmv_sketches(
    spark,
    sf_dir: str,
    candidates: list[tuple[str, str]],
    profiles: DataFrame,
    k: int = 1024,
    oversample: int = 4,
) -> DataFrame:
    """(tbl, col, h) bottom-k hash sketch rows, ≤ k per column.

    The per-column keep-probability comes from the broadcast profile, so
    the heavy scan filters map-side BEFORE any shuffle; the exact
    bottom-k window then runs over ~oversample·k survivors per column.
    When ``p`` reaches 1.0 the sketch is the exhaustive distinct hash
    set (small columns degrade gracefully to exact)."""
    by_table: dict[str, list[str]] = {}
    for t, c in candidates:
        by_table.setdefault(t, []).append(c)
    # hash → uniform u64 treated as unsigned via zero-point shift; the
    # keep test works on the signed value directly: keep the p-fraction
    # smallest signed hashes (same order the bottom-k window uses).
    frames = []
    for t, cols in by_table.items():
        kv = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        # hash the VALUE only — identical values must
                        # collide across tables for containment to work
                        F.xxhash64(F.col(c).cast("bigint")).alias("h"),
                        F.col(c).cast("bigint").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
        frames.append(
            read_table(spark, sf_dir, t)
            .select(kv)
            .select(
                F.lit(t).alias("tbl"),
                F.col("kv.col").alias("col"),
                F.col("kv.h").alias("h"),
            )
            .filter(F.col("kv.v").isNotNull())
        )
    hashed = frames[0]
    for fr in frames[1:]:
        hashed = hashed.unionByName(fr)
    # signed-long keep threshold: LONG_MIN + p * 2^64 (clamped)
    thresholds = profiles.select(
        "tbl",
        "col",
        F.least(
            F.lit(float(2**63 - 1)),
            F.lit(-(2.0**63))
            + F.lit(float(oversample * k))
            / F.greatest(F.col("distinct_est").cast("double"), F.lit(1.0))
            * F.lit(2.0**64),
        ).alias("keep_below"),
    )
    survivors = (
        hashed.join(F.broadcast(thresholds), ["tbl", "col"])
        .filter(F.col("h").cast("double") < F.col("keep_below"))
        .select("tbl", "col", "h")
        .distinct()
    )
    w = Window.partitionBy("tbl", "col").orderBy("h")
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def sketch_containment(
    sketches: DataFrame, pair_filter=None
) -> DataFrame:
    """Per column pair (A → B): estimated containment of A's distinct
    values in B's, from the common-θ KMV intersection. ``pair_filter``
    is an optional Column predicate over (child_table, child_column,
    parent_table, parent_column) restricting candidate pairs (e.g. name
    affinity)."""
    thetas = sketches.groupBy("tbl", "col").agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("k_actual")
    )
    child = sketches.select(
        F.col("tbl").alias("child_table"),
        F.col("col").alias("child_column"),
        "h",
    )
    parent_meta = thetas.select(
        F.col("tbl").alias("parent_table"),
        F.col("col").alias("parent_column"),
        F.col("theta").alias("theta_b"),
    )
    child_meta = thetas.select(
        F.col("tbl").alias("child_table"),
        F.col("col").alias("child_column"),
        F.col("theta").alias("theta_a"),
    )
    # candidate pair grid is tiny (|columns|²): broadcast it onto the
    # child sketch rows, keep rows below the pair's common θ
    pairs = child_meta.crossJoin(parent_meta).filter(
        F.col("child_table") != F.col("parent_table")
    )
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    pairs = pairs.withColumn("theta", F.least("theta_a", "theta_b"))
    below = child.join(
        F.broadcast(pairs),
        ["child_table", "child_column"],
    ).filter(
        # strict < exactly when θ comes from the parent side (its kth
        # min may be missing from the child view); ≤ for the child's own
        # θ (its max IS a member). Using ≤ min(θA,θB) keeps the child's
        # kth value when θA ≤ θB and is off-by-one-hash otherwise —
        # immaterial at k ≥ 256, so keep the simple form.
        F.col("h") <= F.col("theta")
    )
    parent_rows = sketches.select(
        F.col("tbl").alias("parent_table"),
        F.col("col").alias("parent_column"),
        F.col("h").alias("h_b"),
    )
    return (
        below.join(
            parent_rows,
            (below["parent_table"] == parent_rows["parent_table"])
            & (below["parent_column"] == parent_rows["parent_column"])
            & (below["h"] == parent_rows["h_b"]),
            "left",
        )
        .drop(parent_rows["parent_table"])
        .drop(parent_rows["parent_column"])
        .groupBy(
            "child_table", "child_column", "parent_table", "parent_column"
        )
        .agg(
            F.count(F.lit(1)).alias("n_below_theta"),
            F.count("h_b").alias("n_common"),
        )
        .withColumn(
            "containment_est",
            F.col("n_common").cast("double")
            / F.col("n_below_theta").cast("double"),
        )
    )
