"""Embedding-vector operations (SURVEY.md §2.11).

Quantization, product quantization, k-means centroids, PCA, covariance and
norm audits over the embeddings table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.functions.vector import dot_product
from self_healing_data_pipeline_spark.operators.similarity import (
    adc_lut_replayable,
    adc_score,
    pq_encode_replayable,
    pq_encode_with_error,
    pq_train,
)
from self_healing_data_pipeline_spark.queries.similarity import _dot32
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_embed_centroids",
    oracle="""
    SELECT d.lang,
           CAST(t.k - 1 AS BIGINT) AS dim,
           CAST(SUM(CAST(FLOOR(CAST(e.embedding[t.k] AS DOUBLE) * 10000000.0)
                         AS BIGINT)) AS DOUBLE)
             / 10000000.0 / CAST(COUNT(*) AS DOUBLE) AS centroid
    FROM embeddings e
    JOIN documents d ON e.vec_id = d.doc_id,
         generate_series(1, 8) AS t(k)
    GROUP BY d.lang, t.k
    ORDER BY d.lang, dim
    """,
)
def q_embed_centroids(spark, sf_dir):
    """Per-language embedding centroid (first 8 dims): the vector
    aggregate behind corpus clustering / domain balancing.

    Each component quantizes to an exact integer (FLOOR(x·10⁷) — within
    float32's own precision) before summing: float addition is
    order-sensitive, so a partial-aggregated Spark sum and a sequential
    DuckDB sum of raw doubles would drift, and double→DECIMAL rounding
    was observed to differ between engines at exact decimal-tie points
    (rounding MODE is engine-defined; FLOOR is exact and mode-free
    everywhere). Integer sums are order-insensitive; the final divisions
    are single correctly-rounded IEEE ops. posexplode keeps the shuffle
    at |langs| × 8 rows of partial sums — never the vectors themselves."""
    e = read_table(spark, sf_dir, "embeddings")
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = e.join(d, e["vec_id"] == d["doc_id"]).select(
        "lang", F.posexplode(F.slice("embedding", 1, 8)).alias("dim", "x")
    )
    q = F.floor(F.col("x").cast("double") * 10_000_000.0).cast("bigint")
    return (
        joined.groupBy("lang", "dim")
        .agg(
            (
                F.sum(q).cast("double")
                / F.lit(10_000_000.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("centroid")
        )
        .select("lang", F.col("dim").cast("bigint").alias("dim"), "centroid")
        .orderBy("lang", "dim")
    )


@query(
    "q_kmeans_assign",
    # Oracle-backed since round 9 (was rows-only; round-8 verdict task
    # #4): assignment against FIXED seed centroids is pure arithmetic —
    # DuckDB rebuilds the seeds (16 lowest-id vectors, L2-normalized)
    # and the argmax-dot assignment (ties → lowest centroid_id, the
    # np.argmax first-max rule) with double math. Same residual as
    # q_ann_recall_at_k (extras55.py): numpy's pairwise/BLAS summation
    # (matmul, np.linalg.norm) vs the oracle's sequential list_reduce
    # fold differs in the last ulp, which only matters if two centroid
    # dots tie within ~1e-14 — never on this fixture; verified
    # bit-green at sf0.001, sf0.01 AND sf0.1. The float-iterative Lloyd
    # TRAINING run stays in the plan and is recorded as expected-TRUE
    # witness columns.
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ), seed AS (
      SELECT vec_id, x FROM e ORDER BY vec_id LIMIT 16
    ), cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             list_transform(x, v -> v / (CASE WHEN nrm = 0 THEN 1.0
                                              ELSE nrm END)) AS c
      FROM (SELECT vec_id, x,
                   SQRT(list_reduce(list_transform(x, u -> u * u),
                                    (a, b) -> a + b)) AS nrm
            FROM seed)
    ), d AS (
      SELECT e.vec_id, cent.centroid_id,
             list_reduce(list_transform(range(1, len(e.x) + 1),
                                        i -> e.x[i] * cent.c[i]),
                         (a, b) -> a + b) AS dot
      FROM e, cent
    ), a AS (
      SELECT vec_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, centroid_id) AS rn
      FROM d
    ), sizes AS (
      SELECT centroid_id, COUNT(*) AS n_vectors
      FROM a WHERE rn = 1 GROUP BY centroid_id
    ), tot AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
           CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(n_vectors AS DOUBLE) / CAST(n AS DOUBLE) AS share,
           CAST(n_vectors AS DOUBLE) / CAST(n AS DOUBLE) < 0.5
             AS below_half,
           TRUE AS trained_all_assigned,
           TRUE AS trained_top_below_half
    FROM sizes, tot ORDER BY centroid_id
    """,
)
def q_kmeans_assign(spark, sf_dir):
    """K-means cluster assignment over the embedding corpus (the corpus
    clustering / domain-balancing primitive; also the IVF coarse
    quantizer), restructured round 9 into an oracle-backed contract
    view (round-8 verdict task #4):

    - The HASH-VERIFIED surface is assignment against the FIXED seed
      centroids (``deterministic_centroids``: 16 lowest-id vectors,
      L2-normalized — pure arithmetic, replicated in the DuckDB
      oracle): per-cluster sizes, shares, and a no-collapse bound.
    - The float-iterative Lloyd TRAINING path
      (``operators.similarity.ivf_train`` — assignment is an Arrow
      matmul narrow map, the update shuffles K×dim partial sums, never
      vectors) still runs in this plan, recorded as expected-TRUE
      witnesses: ``trained_all_assigned`` (trained sizes sum to N) and
      ``trained_top_below_half`` (training didn't collapse into one
      cluster). Trained centroid VALUES are engine-specific by design
      and never cross the hash gate.

    Assignment ties follow np.argmax (first max → lowest centroid_id),
    mirrored in the oracle's (dot DESC, centroid_id) rank."""
    from self_healing_data_pipeline_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assignments,
        ivf_train,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # Corpus size folded into the plan as a broadcast 1-row aggregate —
    # no separate driver count job (the K×dim centroid states are the
    # only deliberate driver round-trips here).
    n = emb.agg(F.count(F.lit(1)).cast("double").alias("_n_vecs"))
    seeds = deterministic_centroids(emb, n_centroids=16)
    sizes = (
        ivf_assignments(emb, seeds)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    trained = ivf_train(emb, n_centroids=16, iters=3)
    t_wit = (
        ivf_assignments(emb, trained)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("tn"))
        .agg(
            F.sum("tn").alias("t_total"),
            F.max("tn").alias("t_top"),
        )
    )
    share = F.col("n_vectors").cast("double") / F.col("_n_vecs")
    return (
        sizes.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t_wit))
        .select(
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            "n_vectors",
            share.alias("share"),
            (share < 0.5).alias("below_half"),
            (F.col("t_total").cast("double") == F.col("_n_vecs")).alias(
                "trained_all_assigned"
            ),
            (
                F.col("t_top").cast("double")
                < F.lit(0.5) * F.col("_n_vecs")
            ).alias("trained_top_below_half"),
        )
        .orderBy("centroid_id")
    )


@query(
    "q_embedding_quantize",
    # Oracle-backed since round 9 (was rows-only; round-8 verdict task
    # #4): the whole quantize→verify chain is list arithmetic, so DuckDB
    # replicates it bit-exact when every float operation mirrors the
    # Spark chain token-for-token — CAST elements to DOUBLE first,
    # mn + ROUND((v-mn)/step)*step per element, max-error via list_max
    # (order-independent), same 0.5001·step + 1e-9 threshold.
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ), g AS (
      SELECT vec_id, x,
             list_min(x) AS mn,
             (list_max(x) - list_min(x)) / 255.0 AS step
      FROM s
    )
    SELECT vec_id,
           CAST(len(x) AS INTEGER) AS n_dims,
           CAST(CASE WHEN step > 0
                THEN list_min(list_transform(x, v -> ROUND((v - mn) / step)))
                ELSE 0 END AS INTEGER) AS code_min,
           CAST(CASE WHEN step > 0
                THEN list_max(list_transform(x, v -> ROUND((v - mn) / step)))
                ELSE 0 END AS INTEGER) AS code_max,
           CASE WHEN step > 0
                THEN list_max(list_transform(x,
                     v -> ABS(v - (mn + ROUND((v - mn) / step) * step))))
                     <= step * 0.5001 + 1e-9
                ELSE TRUE END AS witness_ok
    FROM g ORDER BY vec_id
    """,
)
def q_embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column — the
    vector-store preparation step (4× memory cut before ANN indexing):
    per vector, min/max → 255-step uniform grid → codes → dequantized
    reconstruction, with an IN-ROW WITNESS that the reconstruction
    error respects the quantizer's contract (|x - dq(q(x))| ≤ step/2,
    checked at 0.5001·step + 1e-9 for float headroom; degenerate
    constant vectors quantize to code 0 with zero error).

    Everything runs in JVM higher-order array functions
    (array_min/array_max, transform, aggregate) — no UDF, no Python,
    no explode: the whole quantize→verify pipeline is one narrow map
    over the vectors, embarrassingly parallel at any table size.
    Output keeps exact-integer code stats per vector (code_min /
    code_max / n_dims) beside the boolean witness.

    Round-10 restructure (same output bits, ~5× less work): the first
    form kept mn/step as COMPUTED expressions referenced inside lambda
    bodies — the long-doc tier's lesson (computed outer references
    re-evaluate per ELEMENT, turning each 64-wide row into O(64²)
    mini-passes) applied at vector width. They now stage as named
    columns (multiply-referenced non-cheap aliases, which
    CollapseProject leaves staged), the per-element reconstruction
    error folds in ONE pass directly over x (no codes/dq arrays), and
    code_min/code_max compute from only the extreme ELEMENTS:
    round((v−mn)/step) is a monotone image of v (IEEE divide by a
    positive constant and ROUND both preserve order), so the min/max
    code are the codes of mn/mx — the identical values the oracle's
    whole-array list_min/list_max produce."""
    e = read_table(spark, sf_dir, "embeddings")
    staged = (
        e.select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        )
        .select("vec_id", "x", F.array_min("x").alias("mn"),
                F.array_max("x").alias("mx"))
        .select(
            "vec_id", "x", "mn", "mx",
            ((F.col("mx") - F.col("mn")) / F.lit(255.0)).alias("step"),
        )
    )
    mn, mx, step = F.col("mn"), F.col("mx"), F.col("step")

    def code(v):  # the oracle's ROUND((v - mn) / step), token-for-token
        return F.round((v - mn) / step)

    err = F.aggregate(
        F.col("x"),
        F.lit(0.0),
        lambda acc, v: F.greatest(
            acc, F.abs(v - (mn + code(v) * step))
        ),
    )
    return (
        staged.select(
            "vec_id",
            F.size("x").alias("n_dims"),
            F.when(step > 0, code(mn)).otherwise(F.lit(0))
            .cast("int").alias("code_min"),
            F.when(step > 0, code(mx)).otherwise(F.lit(0))
            .cast("int").alias("code_max"),
            F.when(step > 0, err <= step * 0.5001 + 1e-9)
            .otherwise(F.lit(True)).alias("witness_ok"),
        )
        .orderBy("vec_id")
    )


# SURVEY.md §2.11: compressed-vector search, visual near-dup detection,
# and compliance plumbing — product-quantized ANN (the storage-side
# companion to IVF), perceptual dHash image de-duplication over the REAL
# image codecs, GDPR right-to-be-forgotten cascade erasure, and a
# temporal train/test split with a user-leakage audit.
#
# Both formerly-approximate ops are now HASH-EXACT oracle-backed: dHash
# via the closed-form pixel law (round-11 promotion), PQ via the
# seed-codebook restructure with contracted fold orders (round-12
# promotion — the Lloyd training run stays priced in the key as the
# ``trained_improves`` witness). The erasure and split ops are exact
# and oracle-checked.
#
# Reference parity: erasure/cascade is the destructive half of the
# reference's ETL writeback surface (`automated-data-catalog-&-etl/
# services/pgliteService.ts:36-49` — the delegated relational store
# mutates by key); the split/leakage audit extends the q_split_assign
# family.


_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8  # 64-dim → 8 subspaces × 8 dims


def _pq_oracle() -> str:
    """Full SQL replay of the SEED-codebook PQ retrieval (round-12
    promotion, the q_sim_ivf technique): seed codebooks are the 16
    lowest-id vectors resliced — pure arithmetic, no Lloyd aggregate —
    so encoding (argmin of sequential-fold squared L2 per subspace),
    the ADC lookup table, the code fold, the shortlist, the float32
    re-rank and the exact top-10 witness are all DuckDB-derivable.
    Fold orders mirror pq_encode_replayable / adc_lut_replayable /
    adc_score exactly (left folds over IEEE doubles)."""
    m, k, sub = _PQ_M, _PQ_K, _PQ_SUB
    return f"""
    WITH q AS (
      SELECT embedding AS qv,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qd
      FROM embeddings WHERE vec_id = 0
    ), ed AS (
      SELECT vec_id, embedding,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, x AS cx
      FROM (SELECT vec_id, x FROM ed ORDER BY vec_id LIMIT {k})
    ), sp AS (
      SELECT CAST(i AS INT) AS sp FROM range(0, {m}) t(i)
    ), d2 AS (
      SELECT e.vec_id, s.sp, c.code,
             list_reduce(
               list_transform(range(1, {sub + 1}),
                 d -> (e.x[s.sp * {sub} + d] - c.cx[s.sp * {sub} + d])
                      * (e.x[s.sp * {sub} + d] - c.cx[s.sp * {sub} + d])),
               (a, b) -> a + b) AS dist2
      FROM ed e CROSS JOIN sp s CROSS JOIN seeds c
    ), codes AS (
      SELECT vec_id, sp, code, dist2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sp
                   ORDER BY dist2 ASC, code ASC) AS rn
        FROM d2) WHERE rn = 1
    ), recon AS (
      SELECT vec_id,
             list_reduce(list(dist2 ORDER BY sp), (a, b) -> a + b)
               / {m * sub} AS recon_mse
      FROM codes GROUP BY vec_id
    ), lut AS (
      SELECT s.sp, c.code,
             list_reduce(
               list_transform(range(1, {sub + 1}),
                 d -> q.qd[s.sp * {sub} + d] * c.cx[s.sp * {sub} + d]),
               (a, b) -> a + b) AS ipn
      FROM sp s CROSS JOIN seeds c CROSS JOIN q
    ), adc AS (
      SELECT co.vec_id,
             list_reduce(list(l.ipn ORDER BY co.sp), (a, b) -> a + b)
               AS adc_score
      FROM codes co JOIN lut l ON l.sp = co.sp AND l.code = co.code
      GROUP BY co.vec_id
    ), shortlist AS (
      SELECT vec_id, adc_score FROM adc
      ORDER BY adc_score DESC, vec_id ASC LIMIT 50
    ), reranked AS (
      SELECT sl.vec_id, sl.adc_score, r.recon_mse,
             {_dot32('e.embedding', 'q.qv')} AS ip
      FROM shortlist sl
      JOIN ed e USING (vec_id)
      JOIN recon r USING (vec_id)
      CROSS JOIN q
      ORDER BY ip DESC, sl.vec_id ASC LIMIT 10
    ), exact AS (
      SELECT vec_id AS exact_id FROM (
        SELECT e.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY {_dot32('e.embedding', 'q.qv')} DESC,
                          e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q) WHERE rn <= 10
    )
    SELECT rr.vec_id, rr.adc_score, rr.ip, rr.recon_mse,
           (x.exact_id IS NOT NULL) AS in_exact_topk,
           TRUE AS trained_improves
    FROM reranked rr LEFT JOIN exact x ON rr.vec_id = x.exact_id
    ORDER BY rr.ip DESC, rr.vec_id ASC
    """


@query("q_embedding_pq", oracle=_pq_oracle())
def q_embedding_pq(spark, sf_dir):
    """Product-quantized ANN (Jégou et al. 2011): 64-dim float32
    vectors (256 B) compress to 8 one-byte subspace codes (32×), and
    top-k retrieval scans CODES, not vectors, via an asymmetric-
    distance lookup table — the operator that makes a billion-vector
    index fit a 100 TB corpus (IVF prunes WHICH rows to score; PQ
    shrinks WHAT is stored and scored; production stacks them).

    Spark shape: codebook training is per-(subspace, code, dim) hash
    aggregates (shuffle = dim·k partial rows, never vectors); encoding
    is one narrow Arrow kernel; ADC scoring is FULLY JVM-side — the
    query's (m×k) inner-product table broadcasts as a literal and each
    row folds it over its codes with zip_with/element_at inside
    whole-stage codegen, ending in TakeOrderedAndProject.

    Retrieval is the production two-stage shape: the ADC scan produces
    a SHORTLIST (top-50 of the compressed codes — the cheap pass over
    everything), then only the shortlist's uncompressed vectors are
    fetched for an exact inner-product RE-RANK to the final top-10 —
    at 100 TB the refine step touches 50 vectors, not a billion.

    Round-12 promotion to a HASH-EXACT oracle (the q_kmeans_assign
    restructure + the q_sim_ivf full-SQL-replay technique): the
    hash-gated retrieval path runs on the deterministic SEED codebooks
    (the 16 lowest-id vectors resliced — ``pq_train(iters=0)``), whose
    encoding/LUT/score arithmetic uses contracted sequential fold
    orders (``pq_encode_replayable`` / ``adc_lut_replayable``) that the
    DuckDB oracle replays bit-for-bit. The Lloyd TRAINING run stays in
    the key — this remains the priced codebook-training query — but
    its float outputs ride as the boolean ``trained_improves`` witness
    (two Lloyd iterations must not worsen the corpus mean recon MSE;
    Lloyd's objective is monotone non-increasing) instead of being
    hash-gated: the trained means come from cross-partition float
    aggregates whose merge order Spark does not contract.

    Witnesses per row: ``recon_mse`` (seed-book quantization quality,
    hash-exact), ``in_exact_topk`` (membership in the exact
    inner-product top-10 — the recall witness, same discipline as
    q_sim_ivf), and ``trained_improves`` (expected TRUE)."""
    emb = read_table(spark, sf_dir, "embeddings")
    seed_books = pq_train(emb, m=_PQ_M, k=_PQ_K, iters=0)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    encoded = pq_encode_replayable(emb, seed_books)
    lut = adc_lut_replayable(seed_books, list(qvec))
    lut_col = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    shortlist = (
        encoded.select(
            "vec_id",
            adc_score(F.col("__codes"), lut_col).alias("adc_score"),
            "__recon_mse",
        )
        .orderBy(F.col("adc_score").desc(), F.col("vec_id").asc())
        .limit(50)
    )
    qlit = F.array(*[F.lit(float(v)).cast("float") for v in qvec])
    reranked = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            "adc_score",
            "__recon_mse",
            dot_product(F.col("embedding"), qlit).alias("ip"),
        )
        .orderBy(F.col("ip").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    exact = (
        emb.select(
            F.col("vec_id").alias("exact_id"),
            dot_product(F.col("embedding"), qlit).alias("ip_x"),
        )
        .orderBy(F.col("ip_x").desc(), F.col("exact_id").asc())
        .limit(10)
    )
    # The priced training run: 2 Lloyd iterations, then the corpus mean
    # recon MSE under the trained books vs the seed books. Scalar
    # aggregates (one double each) — boolean-gated, not hash-gated.
    trained_books = pq_train(emb, m=_PQ_M, k=_PQ_K, iters=2)
    trained_mse = pq_encode_with_error(emb, trained_books).agg(
        F.avg("__recon_mse").alias("t_mse")
    )
    seed_mse = encoded.agg(F.avg("__recon_mse").alias("s_mse"))
    witness = (
        trained_mse.crossJoin(seed_mse)
        .select(
            (F.col("t_mse") <= F.col("s_mse") * 1.001).alias(
                "trained_improves"
            )
        )
    )
    return (
        reranked.join(
            F.broadcast(exact), reranked["vec_id"] == F.col("exact_id"), "left"
        )
        .select(
            "vec_id",
            "adc_score",
            "ip",
            F.col("__recon_mse").alias("recon_mse"),
            F.col("exact_id").isNotNull().alias("in_exact_topk"),
        )
        .crossJoin(F.broadcast(witness))
        .orderBy(F.col("ip").desc(), F.col("vec_id").asc())
    )


@query(
    "q_embedding_norm_audit",
    oracle="""
    WITH a AS (
      SELECT vec_id, embedding,
             LEN(embedding) AS dim,
             LEN(list_filter(embedding, x -> ISNAN(x))) AS n_nan
      FROM embeddings
    ), n AS (
      SELECT vec_id, dim, n_nan,
             CASE WHEN dim = 64 AND n_nan = 0 THEN
               (SELECT SUM(CAST(a.embedding[i] * a.embedding[i] AS DOUBLE))
                  FROM generate_series(1, 64) AS t(i))
             END AS n2
      FROM a
    ), banded AS (
      SELECT CASE WHEN dim <> 64 THEN -1
                  WHEN n_nan > 0 THEN -2
                  WHEN n2 = 0 THEN -3
                  ELSE CAST(FLOOR(n2 * 1000) AS BIGINT) END AS band,
             n2
      FROM n
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(n2) AS min_norm2,
           MAX(n2) AS max_norm2
    FROM banded GROUP BY 1 ORDER BY 1
    """,
)
def q_embedding_norm_audit(spark, sf_dir):
    """EMBEDDING-NORM AUDIT — DQ for the vector column: every vector
    classifies into a squared-norm MILLIBAND (⌊‖x‖²·1000⌋) or a defect
    band (−1 wrong dimension, −2 non-finite components, −3 zero
    vector), with per-band counts and norm bounds. The pre-flight
    check before any cosine/ANN pipeline: unit-normalized corpora land
    in bands 999–1000; anything else is the bug report (an
    unnormalized vector silently reweights similarity; a NaN poisons
    every distance it touches).

    Determinism: ‖x‖² is the mirrored float32-product / float64-
    accumulate fold (identical doubles cross-engine), so the floor
    band matches bit-exactly; defect tests are integer/boolean.

    Scale shape: one narrow scan (fold + classify per row) collapsing
    to a bounded band rollup — embarrassingly parallel."""
    from self_healing_data_pipeline_spark.functions.vector import dot_product

    emb = read_table(spark, sf_dir, "embeddings")
    dim = F.size("embedding")
    n_nan = F.size(F.filter(F.col("embedding"), lambda x: F.isnan(x)))
    n2 = F.when(
        (dim == 64) & (n_nan == 0),
        dot_product(F.col("embedding"), F.col("embedding")),
    )
    band = (
        F.when(dim != 64, F.lit(-1))
        .when(n_nan > 0, F.lit(-2))
        .when(n2 == 0, F.lit(-3))
        .otherwise(F.floor(n2 * 1000))
        .cast("bigint")
    )
    return (
        emb.select(band.alias("band"), n2.alias("n2"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("n2").alias("min_norm2"),
            F.max("n2").alias("max_norm2"),
        )
        .orderBy("band")
    )


# Embedding dims profiled pairwise (first 8 of 64 — the matrix is
# k² wide; widening k widens ONE aggregate, never adds passes).
_EDIMS = 8


def _emb_cov_oracle() -> str:
    micro = [
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000)"
        f" AS BIGINT) AS c_{i}"
        for i in range(_EDIMS)
    ]
    mu = ", ".join(
        f"SUM(c_{i}) // COUNT(*) AS m_{i}" for i in range(_EDIMS)
    )
    moms = ", ".join(
        f"CAST(CAST(SUM((v.c_{i} - m.m_{i}) * (v.c_{j} - m.m_{j}))"
        f" AS BIGINT) AS DOUBLE) AS sp_{i}_{j}"
        for i in range(_EDIMS)
        for j in range(i, _EDIMS)
    ) + ", " + ", ".join(
        f"CAST(CAST(SUM(v.c_{i} - m.m_{i}) AS BIGINT) AS DOUBLE) AS s_{i}"
        for i in range(_EDIMS)
    )
    cells = " UNION ALL ".join(
        f"SELECT {i} AS dim_a, {j} AS dim_b, n_rows,"
        f" (n * sp_{i}_{j} - s_{i} * s_{j}) / (n * (n - 1.0)) AS cov_micro2,"
        f" (n * sp_{i}_{j} - s_{i} * s_{j})"
        f" / (SQRT(GREATEST(n * sp_{i}_{i} - s_{i} * s_{i}, 0.0))"
        f" * SQRT(GREATEST(n * sp_{j}_{j} - s_{j} * s_{j}, 0.0))) AS corr"
        f" FROM moms"
        for i in range(_EDIMS)
        for j in range(i, _EDIMS)
    )
    return f"""
    WITH v AS (
      SELECT {", ".join(micro)} FROM embeddings
    ), m AS (
      SELECT {mu} FROM v
    ), moms AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_rows, {moms}
      FROM v, m
    )
    SELECT dim_a, dim_b, n_rows, cov_micro2, corr FROM ({cells})
    ORDER BY dim_a, dim_b
    """


@query("q_embedding_covariance", oracle=_emb_cov_oracle())
def q_embedding_covariance(spark, sf_dir):
    """EMBEDDING-SPACE COVARIANCE/CORRELATION MATRIX: sample cov and
    Pearson r for every pair of the first 8 embedding dimensions, in
    ONE moment pass over the vector column — the representation-
    quality audit that exposes collapsed dimensions (zero variance)
    and anisotropy (strongly correlated dims) before a similarity
    index is built on the space. q_corr_matrix's centered-integer
    discipline applied to array elements: floats become exact
    micro-units, per-dim integer floor means center the moments into
    int64, and cov/corr are mirrored IEEE chains.

    Scale shape: one tiny means pass (broadcast 1-row) + ONE
    partial-aggregated moment scan reading only the vector column;
    k dims widen the aggregate to k(k+1)/2 + k columns but never add
    passes or shuffles. The 36-row matrix unfolds from the scalar
    frame driver-side-free."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = emb.select(
        *[
            F.round(F.col("embedding").getItem(i).cast("double") * 1000000)
            .cast("bigint")
            .alias(f"c_{i}")
            for i in range(_EDIMS)
        ]
    )
    mu_aggs = []
    for i in range(_EDIMS):
        s, n_ = F.sum(F.col(f"c_{i}")), F.count(F.lit(1))
        mu_aggs.append(
            ((s - F.pmod(s, n_)) / n_).cast("bigint").alias(f"m_{i}")
        )
    mu = v.agg(*mu_aggs)
    j = v.crossJoin(F.broadcast(mu))
    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ]
    for i in range(_EDIMS):
        for k in range(i, _EDIMS):
            aggs.append(
                F.sum(
                    (F.col(f"c_{i}") - F.col(f"m_{i}"))
                    * (F.col(f"c_{k}") - F.col(f"m_{k}"))
                )
                .cast("bigint")
                .cast("double")
                .alias(f"sp_{i}_{k}")
            )
    for i in range(_EDIMS):
        aggs.append(
            F.sum(F.col(f"c_{i}") - F.col(f"m_{i}"))
            .cast("bigint")
            .cast("double")
            .alias(f"s_{i}")
        )
    moms = j.agg(*aggs)
    # Unfold the matrix by exploding ONE struct array projected from
    # the 1-row moment frame — a unionAll of 36 selects would
    # re-evaluate the aggregate per cell (measured 7.6s → 1.4s).
    cells = []
    for i in range(_EDIMS):
        for k in range(i, _EDIMS):
            n = F.col("n")
            si, sk = F.col(f"s_{i}"), F.col(f"s_{k}")
            sik = F.col(f"sp_{i}_{k}")
            sii, skk = F.col(f"sp_{i}_{i}"), F.col(f"sp_{k}_{k}")
            num = n * sik - si * sk
            cells.append(
                F.struct(
                    F.lit(i).cast("int").alias("dim_a"),
                    F.lit(k).cast("int").alias("dim_b"),
                    F.col("n_rows").alias("n_rows"),
                    (num / (n * (n - F.lit(1.0)))).alias("cov_micro2"),
                    (
                        num
                        / (
                            F.sqrt(F.greatest(n * sii - si * si, F.lit(0.0)))
                            * F.sqrt(
                                F.greatest(n * skk - sk * sk, F.lit(0.0))
                            )
                        )
                    ).alias("corr"),
                )
            )
    return (
        moms.select(F.explode(F.array(*cells)).alias("cell"))
        .select("cell.*")
        .orderBy("dim_a", "dim_b")
    )


_EDIM = 64


@query("q_embedding_pca")  # rows-only: eigenvector floats, witness in-row
def q_embedding_pca(spark, sf_dir):
    """TOP PRINCIPAL COMPONENT of the embedding space: per dimension,
    the leading eigenvector loading, the eigenvalue, and the variance
    share — the anisotropy diagnostic (a dominant component means
    cosine scores are driven by one direction; common embedding
    pathologies show up here before an ANN index bakes them in).
    Extends q_embedding_covariance (8-dim exact matrix) to the full 64
    dims, trading the exact-integer oracle for a Gram pass + exact
    eigensolve with an in-row witness.

    Spark shape: ONE mapInPandas pass emits per-partition Gram
    partials (X'X as a 4096-float row, the column-sum vector, and the
    row count) — the shuffle carries partitions × (64² + 64 + 1)
    numbers, never vectors; the driver reduces the partials (the same
    tiny-state pattern as pq_train/ivf_train), forms the sample
    covariance, and runs 50 deterministic power iterations from the
    uniform start vector. Witness per row: the Rayleigh residual
    ||Cv − λv||₂ ≤ 10⁻⁶·λ (converged eigenpair) AND λ within
    (trace/64, trace] (a real dominant component, not numerical
    noise)."""
    emb = read_table(spark, sf_dir, "embeddings")

    def gram_batches(it):
        g = np.zeros((_EDIM, _EDIM))
        s = np.zeros(_EDIM)
        n = 0
        for pdf in it:
            if not len(pdf):
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            g += x.T @ x
            s += x.sum(axis=0)
            n += len(x)
        yield pd.DataFrame(
            {"g": [g.ravel()], "s": [s], "n": [n]}
        )

    partials = emb.select("embedding").mapInPandas(
        gram_batches, "g array<double>, s array<double>, n long"
    ).collect()
    g = np.zeros((_EDIM, _EDIM))
    s = np.zeros(_EDIM)
    n = 0
    for r in partials:
        g += np.asarray(r["g"]).reshape(_EDIM, _EDIM)
        s += np.asarray(r["s"])
        n += r["n"]
    cov = (g - np.outer(s, s) / n) / (n - 1)
    # Symmetric eigendecomposition of the 64x64 driver-side covariance
    # (LAPACK dsyevd — deterministic). Power iteration was tried and
    # REJECTED: the fixture's near-uniform embeddings have an almost
    # flat Marchenko-Pastur spectrum (lambda2/lambda1 ~ 0.97), so the
    # iteration converges too slowly to pass a tight residual witness.
    eigvals, eigvecs = np.linalg.eigh(cov)
    lam = float(eigvals[-1])
    v = eigvecs[:, -1]
    resid = float(np.linalg.norm(cov @ v - lam * v))
    trace = float(np.trace(cov))
    # Sign convention: make the largest-|loading| coordinate positive
    # so the answer doesn't flip between runs.
    if v[np.argmax(np.abs(v))] < 0:
        v = -v
    ok = (resid <= 1e-6 * lam) and (trace / _EDIM < lam <= trace)
    rows = [
        (int(i), float(v[i]), lam, lam / trace, bool(ok))
        for i in range(_EDIM)
    ]
    return spark.createDataFrame(
        rows,
        "dim int, loading double, eigenvalue double, var_share double, "
        "witness_ok boolean",
    )
