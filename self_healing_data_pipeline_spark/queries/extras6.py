"""Round-5 additions (SURVEY.md §2.9/§2.11): weight-proportional
deterministic sampling, exact daily percentile bands, time-to-convert
funnels, repeat-purchase cadence, and embedding int8 quantization —
event/corpus analytics that round out the sampling + SLO + vector-prep
surface.

Scale discipline (same repo rules): every scalar that crosses engines
is exact-integer or a single IEEE op on exact integers; percentile
selection is rank-based within bounded (type, day) / per-customer
partitions, never a global sort; the corpus-wide max for weighted
sampling is a broadcast one-row aggregate (the repo's broadcast-scalar
pattern), never a global window; embedding quantization runs entirely
in JVM higher-order array functions — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_sample_weighted",
    oracle="""
    WITH mx AS (SELECT MAX(n_chars) AS w FROM documents),
    rated AS (
      SELECT d.source, d.n_chars,
             CAST(FLOOR(65536.0 * d.n_chars / m.w) AS BIGINT) AS keep_65536,
             SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS h4
      FROM documents d CROSS JOIN mx m
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (
             WHERE keep_65536 >= 65536 OR h4 < printf('%04x', keep_65536)
           ) AS n_kept,
           CAST(COALESCE(SUM(n_chars) FILTER (
             WHERE keep_65536 >= 65536 OR h4 < printf('%04x', keep_65536)
           ), 0) AS BIGINT) AS kept_chars
    FROM rated GROUP BY source ORDER BY source
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Weight-proportional deterministic sampling: keep each document
    with probability n_chars / max(n_chars) — the length-weighted
    Bernoulli draw a corpus recipe uses to bias toward substantive
    documents WITHOUT an RNG. Like ``q_sample_hash``/``q_domain_mixture``
    the draw is a pure function of doc_id: the keep rate quantizes to
    k/65536 and applies as a 4-hex-digit md5-prefix threshold, so
    membership is partition- and rerun-invariant, and the threshold
    compare is string-lexicographic on both engines (no float
    comparison anywhere near the decision).

    Plan: one-row corpus max broadcast back (broadcast-scalar pattern —
    a global window here would plan SinglePartition), then a narrow
    map-side filter + per-source aggregate. Shuffle carries ≤ |sources|
    partial rows."""
    d = read_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("w"))
    rated = d.crossJoin(F.broadcast(mx)).select(
        "source",
        "n_chars",
        F.floor(65536.0 * F.col("n_chars") / F.col("w"))
        .cast("bigint")
        .alias("keep_65536"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("h4"),
    )
    kept = (F.col("keep_65536") >= 65536) | (
        F.col("h4") < F.format_string("%04x", F.col("keep_65536"))
    )
    return (
        rated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@query(
    "q_percentile_bands",
    oracle="""
    WITH ranked AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, CAST(ts AS DATE)) AS n
      FROM events
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
           MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95
    FROM ranked GROUP BY event_type, day, n
    ORDER BY event_type, day
    """,
)
def q_percentile_bands(spark, sf_dir):
    """Exact daily p50/p95 bands per event type — the SLO dashboard
    primitive, computed as EXACT discrete percentiles (the value whose
    rank is ceil(p·n)) rather than a sketch: rank selection inside
    (type, day) windows, so the ordered pass is bounded by one day's
    volume per type and parallelizes across the calendar. Boundary
    ranks in pure integer arithmetic — ceil(p·n) as (p·n + 99) // 100 —
    so no float multiply can shift a rank across engines; the returned
    percentile is a raw column value (bit-exact by construction).
    The deterministic (value, event_id) tie-break makes rank selection
    total on both engines."""
    e = read_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("event_type", day).orderBy("value", "event_id")
    wc = Window.partitionBy("event_type", day)
    ranked = e.select(
        "event_type",
        day.cast("string").alias("day"),
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        ranked.groupBy("event_type", "day", "n")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
            ).alias("p50"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(95 * n + 99) div 100"),
                    F.col("value"),
                )
            ).alias("p95"),
        )
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n_events"),
            "p50",
            "p95",
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts) END) AS v_us,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS p_us
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT (p_us - v_us) // 60000000 AS minutes
      FROM firsts WHERE v_us IS NOT NULL AND p_us > v_us
    )
    SELECT minutes // 60 AS hours_bucket,
           COUNT(*) AS n_users,
           CAST(MIN(minutes) AS BIGINT) AS min_minutes,
           CAST(MAX(minutes) AS BIGINT) AS max_minutes,
           CAST(SUM(minutes) AS BIGINT) AS total_minutes
    FROM conv GROUP BY 1 ORDER BY hours_bucket
    """,
)
def q_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: minutes from a user's FIRST view
    to their first purchase after it, histogrammed by hour — the funnel
    velocity metric behind "how long does acquisition take". One
    conditional-min aggregate per user (no windows, no self-join), then
    exact integer microsecond arithmetic throughout: delta → minutes →
    hour bucket are all integer divisions, so no engine can disagree on
    a bucket edge. Users who purchased before ever viewing (or never
    did either) drop out by the same predicate on both engines."""
    e = read_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("v_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("p_us"),
    )
    conv = firsts.filter(
        F.col("v_us").isNotNull() & (F.col("p_us") > F.col("v_us"))
    ).select(F.expr("(p_us - v_us) div 60000000").alias("minutes"))
    return (
        conv.groupBy(F.expr("minutes div 60").alias("hours_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("minutes").cast("bigint").alias("min_minutes"),
            F.max("minutes").cast("bigint").alias("max_minutes"),
            F.sum("minutes").cast("bigint").alias("total_minutes"),
        )
        .orderBy("hours_bucket")
    )


@query(
    "q_order_cadence",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS prev_date
      FROM orders
    ), gaps AS (
      SELECT o_custkey,
             DATE_DIFF('day', prev_date, o_orderdate) AS gap_days
      FROM seq WHERE prev_date IS NOT NULL
    ), ranked AS (
      SELECT o_custkey, gap_days,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY gap_days) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM gaps
    ), med AS (
      SELECT o_custkey, gap_days AS median_gap
      FROM ranked WHERE rn = (n + 1) // 2
    )
    SELECT median_gap // 7 AS weeks_bucket,
           COUNT(*) AS n_customers,
           CAST(MIN(median_gap) AS BIGINT) AS min_days,
           CAST(MAX(median_gap) AS BIGINT) AS max_days
    FROM med GROUP BY 1 ORDER BY weeks_bucket
    """,
)
def q_order_cadence(spark, sf_dir):
    """Repeat-purchase cadence: each returning customer's MEDIAN days
    between consecutive orders, histogrammed by week — the retention
    rhythm behind replenishment and churn models. Gaps via one LAG
    window per customer (deterministic (date, orderkey) order), the
    median as exact lower-median rank selection inside the same
    per-customer partition (groups are per-key bounded — the
    ``q_dq_outlier_mad`` exact-median discipline), then a tiny bucket
    rollup. All day arithmetic is integer; the week bucket is an
    integer division, so bucket edges agree across engines exactly."""
    o = read_table(spark, sf_dir, "orders")
    wlag = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(wlag)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    wrank = Window.partitionBy("o_custkey").orderBy("gap_days")
    wcnt = Window.partitionBy("o_custkey")
    med = (
        gaps.select(
            "gap_days",
            F.row_number().over(wrank).alias("rn"),
            F.count(F.lit(1)).over(wcnt).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("gap_days").alias("median_gap"))
    )
    return (
        med.groupBy(F.expr("median_gap div 7").alias("weeks_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("median_gap").cast("bigint").alias("min_days"),
            F.max("median_gap").cast("bigint").alias("max_days"),
        )
        .orderBy("weeks_bucket")
    )


@query(
    "q_dedup_registry",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS f
      FROM documents
    )
    SELECT f AS fp, MIN(doc_id) AS first_id
    FROM fp GROUP BY f ORDER BY fp
    """,
)
def q_dedup_registry(spark, sf_dir):
    """The streaming dedup REGISTRY's target state, oracle-checked —
    the same run-the-machinery pattern as ``q_incremental_join_view``:
    the query actually drives ``streaming.dedup_registry`` through
    three id-ordered epochs (doc_id terciles, so arrival order equals
    id order and keep-first is SQL-expressible as MIN(doc_id)), then
    returns the final registry. The result must equal the oracle's
    one-shot keep-first over normalized-content fingerprints — epoch
    boundaries invisible in the final state, which is the correctness
    contract of registry maintenance. Cross-epoch suppression is
    exercised for real: any fixture duplicate whose copies land in
    different terciles survives only by its first arrival."""
    import os

    from self_healing_data_pipeline_spark.streaming.dedup_registry import (
        apply_dedup_batch,
        read_registry,
    )

    from self_healing_data_pipeline_spark.session import scratch_dir

    scratch = scratch_dir("dedupreg", sf_dir)
    rdir = os.path.join(scratch, "registry")
    adir = os.path.join(scratch, "accepted")

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = d.agg(F.max("doc_id")).collect()[0][0] or 0
    c1, c2 = max_id // 3, 2 * max_id // 3
    for epoch, pred in enumerate(
        (
            F.col("doc_id") <= c1,
            (F.col("doc_id") > c1) & (F.col("doc_id") <= c2),
            F.col("doc_id") > c2,
        )
    ):
        apply_dedup_batch(spark, d.filter(pred), rdir, adir, epoch)
    return (
        read_registry(spark, rdir)
        .select("fp", F.col("first_id").cast("bigint").alias("first_id"))
        .orderBy("fp")
    )


@query(
    "q_neardup_registry",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS accepted_in_range,
           TRUE AS registry_matches_accepted
    FROM documents WHERE doc_id % 4 = 0
    """,
)
def q_neardup_registry(spark, sf_dir):
    """The incremental NEAR-dup registry's core contracts as an
    ORACLE-BACKED witness row (the q_distinct_sketch_accuracy
    discipline: every column SQL-derivable, witnesses expected TRUE, so
    the driver's hash gate verifies the machinery's contract instead of
    recording a row count). A thinned document stream is driven through
    ``streaming.neardup_registry`` as one epoch and the row reports:

    - ``n_docs``: documents considered (oracle: COUNT(*) of the thin);
    - ``accepted_in_range``: 1 ≤ |accepted| ≤ n_docs;
    - ``registry_matches_accepted``: the registry's signature ids equal
      the accepted output ids (state and output never diverge).

    The batch-cut-invariance contract (two id-ordered epochs accept the
    IDENTICAL id set as one epoch) lived here through round 8 as a
    ``cuts_agree`` column, which re-ran the machinery two more times
    per bench pass — 9.1 s, 2.6% of the whole suite, spent re-proving
    an invariant per round (round-8 verdict task #7). It now runs once
    per CI in ``tests/test_neardup_registry.py`` — both the synthetic
    ``test_batch_cuts_are_invisible`` and the fixture-data
    ``test_batch_cut_invariance_on_fixture`` (same %4 thin + half-cut
    as this view, at sf0.001) — identical contract coverage, off the
    bench's hot path.

    Per-document decisions stay covered by tests/test_neardup_registry
    (signatures are blake2b + affine minhash — not SQL-expressible).
    Documents are thinned to doc_id%4==0 so the materialization pass
    stays bench-friendly."""
    import os

    from self_healing_data_pipeline_spark.streaming.neardup_registry import (
        apply_neardup_batch,
    )
    from self_healing_data_pipeline_spark.streaming.snapshots import (
        read_all_snapshots,
    )

    d = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
    )
    from self_healing_data_pipeline_spark.session import scratch_dir

    scratch = scratch_dir("neardup", sf_dir)

    def run(tag: str, cuts):
        """Materialize the registry pass; return the accepted-id
        DataFrame (doc_id only) — the id sets stay DISTRIBUTED. The
        pre-round-12 form collected every accepted id into a Python
        set (~n/4 ids — a driver collect that grows with the corpus);
        the set-equality witness below is two key-only anti-joins
        instead, O(1) driver state at any scale."""
        rdir = os.path.join(scratch, tag, "reg")
        adir = os.path.join(scratch, tag, "acc")
        for epoch, pred in enumerate(cuts):
            apply_neardup_batch(
                spark, d.filter(pred), rdir, adir, epoch, threshold=0.8
            )
        acc = read_all_snapshots(spark, adir)
        if acc is None:
            return spark.createDataFrame([], "doc_id bigint")
        return acc.select(F.col("doc_id").cast("bigint").alias("doc_id"))

    accepted = run("one", [F.lit(True)])
    n_docs = d.count()
    n_accepted = accepted.select("doc_id").distinct().count()
    from self_healing_data_pipeline_spark.streaming.neardup_registry import (
        read_neardup_registry,
    )

    reg = read_neardup_registry(spark, os.path.join(scratch, "one", "reg"))
    reg_ids = (
        reg.select(F.col("doc_id").cast("bigint").alias("doc_id"))
        if reg is not None
        else spark.createDataFrame([], "doc_id bigint")
    )
    # Set equality, distributed: neither side has an id the other
    # lacks. Anti-joins shuffle bare bigint keys only.
    reg_only = reg_ids.join(accepted, "doc_id", "left_anti").count()
    acc_only = accepted.join(reg_ids, "doc_id", "left_anti").count()
    return spark.createDataFrame(
        [
            (
                int(n_docs),
                1 <= n_accepted <= n_docs,
                reg_only == 0 and acc_only == 0,
            )
        ],
        "n_docs bigint, accepted_in_range boolean,"
        " registry_matches_accepted boolean",
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
