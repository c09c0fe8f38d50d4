"""Epoch stores and streaming twins (SURVEY.md §2.9, §2.11).

Keys backed by the epoch-snapshot stores (dedup and near-dup registries,
CDC time travel, incremental join view, rollup partials) and the batch
twins of the streaming operators (quantiles, heavy hitters, watermarks).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_rollup_partials",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_rollup_partials(spark, sf_dir):
    """Continuous-aggregate state as a query: the exact (bucket, key) →
    (n, exact-cents sum) partials `streaming.rollup` maintains
    incrementally, with the derived average — so the maintenance
    operator's target state is itself oracle-checked, not just
    unit-tested. Partials are a commutative monoid; this batch form and
    the incremental form converge to identical rows by construction
    (asserted against each other in tests/test_rollup.py). One scan, one
    map-side-partial aggregate; shuffle ∝ buckets × keys."""
    from self_healing_data_pipeline_spark.functions.scalar import ts_str
    from self_healing_data_pipeline_spark.streaming.rollup import aggregate_batch

    ev = read_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    partials = aggregate_batch(
        ev, F.date_trunc("hour", "ts"), ["event_type"], "value"
    )
    return partials.select(
        ts_str("bucket").alias("bucket"),
        "event_type",
        "n",
        "sum_cents",
        (
            F.col("sum_cents").cast("double")
            / F.col("n").cast("double")
            / 100.0
        ).alias("avg_value"),
    ).orderBy("bucket", "event_type")


@query(
    "q_incremental_join_view",
    oracle="""
    WITH facts AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
      FROM orders WHERE o_orderkey % 8 = 0
    ), dims AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT d.c_mktsegment AS segment,
           COUNT(*) AS n_pairs,
           CAST(SUM(f.total_cents) AS BIGINT) AS cents
    FROM facts f JOIN dims d ON f.o_custkey = d.c_custkey
    GROUP BY 1 ORDER BY segment
    """,
)
def q_incremental_join_view(spark, sf_dir):
    """The incremental fact⋈dim VIEW's target state, oracle-checked —
    the same pattern q_rollup_partials uses for continuous aggregates
    (reference vision: a pipeline that keeps derived tables current,
    `README.md:2`). The query actually RUNS the delta-join machinery
    (``streaming/incremental_join.apply_fact_dim_delta_batch``) over
    three epochs: dims + the first fact tercile, then the second, then
    the third tercile TOGETHER WITH an SCD1 update renaming every
    custkey%10==0 segment — exercising upserts, growth, and the
    dimension-update re-pairing path. The returned aggregate of the
    materialized view must equal the oracle's plain one-shot join of
    the FINAL sides — arrival order and incrementality invisible in the
    result, which is the correctness contract of view maintenance.
    Facts are thinned to o_orderkey%8==0 so the three materialization
    epochs stay bench-friendly; per epoch the work is |Δ|⋈|dim| plus a
    touched-key anti-join, never a recompute (tested in
    tests/test_incremental_join.py)."""
    import os

    from self_healing_data_pipeline_spark.streaming.incremental_join import (
        apply_fact_dim_delta_batch,
        read_fact_dim_view,
    )

    from self_healing_data_pipeline_spark.session import scratch_dir

    scratch = scratch_dir("incjoin", sf_dir)

    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 8 == 0
    )
    c = read_table(spark, sf_dir, "customer")

    def fact_delta(pred):
        return o.filter(pred).select(
            F.lit("fact").alias("side"),
            F.lit("upsert").alias("op"),
            F.lit(1).cast("long").alias("seq"),
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("total_cents"),
            F.lit(None).cast("long").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
        )

    def dim_delta(df, seq):
        return df.select(
            F.lit("dim").alias("side"),
            F.lit("upsert").alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("long").alias("o_custkey"),
            F.lit(None).cast("long").alias("total_cents"),
            "c_custkey",
            "c_mktsegment",
        )

    kw = dict(
        fact_key="o_orderkey",
        fact_fk="o_custkey",
        dim_key="c_custkey",
        fact_cols=["o_orderkey", "o_custkey", "total_cents"],
        dim_cols=["c_custkey", "c_mktsegment"],
    )
    # epoch 0: all dims + first fact tercile
    apply_fact_dim_delta_batch(
        spark,
        dim_delta(c.select("c_custkey", "c_mktsegment"), 1).unionByName(
            fact_delta(F.col("o_orderkey") % 3 == 0)
        ),
        scratch,
        epoch_id=0,
        **kw,
    )
    # epoch 1: second tercile
    apply_fact_dim_delta_batch(
        spark, fact_delta(F.col("o_orderkey") % 3 == 1), scratch,
        epoch_id=1, **kw,
    )
    # epoch 2: third tercile + SCD1 segment rename for custkey%10==0
    scd1 = dim_delta(
        c.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey", F.lit("UPDATED").alias("c_mktsegment")
        ),
        2,
    )
    apply_fact_dim_delta_batch(
        spark,
        fact_delta(F.col("o_orderkey") % 3 == 2).unionByName(scd1),
        scratch,
        epoch_id=2,
        **kw,
    )
    view = read_fact_dim_view(spark, scratch)
    return (
        view.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("total_cents").cast("long").alias("cents"),
        )
        .orderBy("segment")
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
    "q_stream_heavy_hitters",
    oracle="""
    WITH it AS (
      SELECT CASE WHEN value >= 20.0 THEN 'bulk' ELSE event_type END AS item
      FROM events
    ), f AS (
      SELECT item, COUNT(*) AS exact_cnt FROM it GROUP BY item
    ), t AS (
      SELECT CAST(SUM(exact_cnt) AS BIGINT) AS n FROM f
    )
    SELECT f.item AS item,
           CAST(f.exact_cnt AS BIGINT) AS exact_cnt,
           (SELECT n FROM t) AS stream_n,
           TRUE AS in_summary,
           TRUE AS bound_ok
    FROM f WHERE f.exact_cnt * 5 > (SELECT n FROM t)
    ORDER BY f.item
    """,
)
def q_stream_heavy_hitters(spark, sf_dir):
    """The continuous heavy-hitters summary's GUARANTEES, oracle-checked
    — the run-the-machinery pattern of ``q_dedup_registry`` applied to
    ``streaming.heavy_hitters``: the query drives three event_id-tercile
    epochs of a routing-key stream (the hot-key scenario: a 'bulk'
    class carrying ~2/3 of the events next to five ~7% cold classes)
    through the Misra-Gries maintenance with k=4 — six distinct items,
    so COMPRESSION REALLY FIRES at every merge — then reports the
    phi > 1/(k+1) heavy set from an exact re-count with three
    machinery witnesses the oracle expects TRUE: the heavy item is in
    the summary (guaranteed-superset), its summary count is a valid
    lower bound within n/(k+1) (mergeable-summaries error bound), and
    the summary's accumulated stream length equals the exact event
    count (every event folded exactly once across epochs)."""
    import os

    from self_healing_data_pipeline_spark.session import scratch_dir
    from self_healing_data_pipeline_spark.streaming.heavy_hitters import (
        apply_heavy_hitters_batch,
        read_summary,
    )

    k = 4
    sdir = os.path.join(scratch_dir("hh", sf_dir), "state")

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") >= 20.0, F.lit("bulk"))
        .otherwise(F.col("event_type"))
        .alias("item"),
    )
    max_id = ev.agg(F.max("event_id")).collect()[0][0] or 0
    c1, c2 = max_id // 3, 2 * max_id // 3
    for epoch, pred in enumerate(
        (
            F.col("event_id") <= c1,
            (F.col("event_id") > c1) & (F.col("event_id") <= c2),
            F.col("event_id") > c2,
        )
    ):
        apply_heavy_hitters_batch(
            spark, ev.filter(pred), sdir, epoch, k=k, item_col="item"
        )
    summary, n_total = read_summary(spark, sdir)
    exact = ev.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
    n = exact.select(F.sum("exact_cnt").alias("n"))
    heavy = (
        exact.crossJoin(F.broadcast(n))
        .where(F.col("exact_cnt") * (k + 1) > F.col("n"))
    )
    return (
        heavy.join(
            F.broadcast(summary.withColumnRenamed("cnt", "mg_cnt")),
            "item",
            "left",
        )
        .select(
            "item",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("n").cast("bigint").alias("stream_n"),
            F.col("mg_cnt").isNotNull().alias("in_summary"),
            (
                F.col("mg_cnt").isNotNull()
                & (F.col("mg_cnt") <= F.col("exact_cnt"))
                & (
                    (F.col("exact_cnt") - F.col("mg_cnt")) * (k + 1)
                    <= F.col("n")
                )
                & (F.lit(n_total) == F.col("n"))
            ).alias("bound_ok"),
        )
        .orderBy("item")
    )


# SURVEY.md §2.11: continuous QUANTILES from the EXISTING rollup
# machinery — the point of mergeable partials is that one registry
# serves many summaries, and this batch proves it: bucketing values by
# (decimal digits, leading two digits) turns ``streaming.rollup``'s
# additive (bucket, n) state into a mergeable quantile sketch with a <=
# 1/10 relative-error guarantee, no new streaming code at all.
#
# Why digit buckets and not log buckets: the bucket key must be computed
# IDENTICALLY on both engines, and floor(log(x)/log(b)) can land on
# either side of an integer boundary depending on the engine's last-ulp
# log behavior. Decimal-digit bucketing is pure integer/string
# arithmetic — cross-engine exact by construction — and a value in
# bucket [L·10^k, (L+1)·10^k) with L in 10..99 is pinned to within
# 1/L <= 10% of its lower bound.


# Bucket key of a positive cents value: d = decimal digits, L = leading
# two digits (c itself when c < 10). Key = d*100 + L is monotone in the
# value's bucket lower bound.
_BUCKET_SQL = """CAST(LENGTH(CAST({c} AS VARCHAR)) AS BIGINT) * 100
      + CAST(SUBSTRING(CAST({c} AS VARCHAR), 1, 2) AS BIGINT)"""


def _bucket_col(c):
    s = c.cast("string")
    return (F.length(s).cast("bigint") * 100) + F.substring(s, 1, 2).cast(
        "bigint"
    )


def _bucket_lo_sql(key: str) -> str:
    # lower bound in cents: L * 10^(d-2) for d >= 2, else L (= the value)
    return f"""CASE WHEN {key} // 100 >= 2
        THEN ({key} % 100) * CAST(POWER(10, {key} // 100 - 2) AS BIGINT)
        ELSE {key} % 100 END"""


@query(
    "q_stream_quantiles",
    oracle=f"""
    WITH c AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
      WHERE value > 0
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c
    ), b AS (
      SELECT {_BUCKET_SQL.format(c='cents')} AS key,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1
    ), cum AS (
      SELECT key, cnt,
             SUM(cnt) OVER (ORDER BY key) AS cum
      FROM b
    ), ranked AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c
    ), probes AS (
      SELECT * FROM (VALUES (50), (95), (99)) AS t(p)
    ), answers AS (
      SELECT p.p,
             (SELECT cents FROM ranked, tot
               WHERE rn = CAST(CEIL(p.p * n / 100.0) AS BIGINT)) AS exact_cents,
             (SELECT MIN(key) FROM cum, tot
               WHERE cum >= CAST(CEIL(p.p * n / 100.0) AS BIGINT)) AS key
      FROM probes p
    )
    SELECT CAST(p AS BIGINT) AS p,
           exact_cents,
           CAST({_bucket_lo_sql('key')} AS BIGINT) AS bucket_lo,
           CAST(CASE WHEN key // 100 >= 2
                THEN ({_bucket_lo_sql('key')})
                     + CAST(POWER(10, key // 100 - 2) AS BIGINT)
                ELSE (key % 100) + 1 END AS BIGINT) AS bucket_hi,
           TRUE AS bounds_ok
    FROM answers ORDER BY p
    """,
)
def q_stream_quantiles(spark, sf_dir):
    """Continuous quantiles from the ROLLUP registry — machinery reuse,
    not new machinery: event values (exact cents) bucket by (decimal
    digits, leading two digits) and stream through
    ``streaming.rollup.merge_rollup`` in three event-id-tercile epochs;
    the additive (bucket, n) state is then a mergeable quantile sketch.
    For p in {{50, 95, 99}}: the exact percentile value
    (oracle-verified by rank selection), the sketch bucket's exact
    integer bounds, and an in-row witness the oracle expects TRUE —
    the exact quantile falls inside the sketch's <= 10%-wide bucket,
    the quantile-error contract pinned by the correctness gate.

    Scale: state is bounded by the value DOMAIN (~90 buckets/decade),
    not the stream; per batch the shuffle carries bucket partials
    (rollup discipline); the rank-selection pass exists only for the
    gate's exact side."""
    import os

    from self_healing_data_pipeline_spark.session import scratch_dir
    from self_healing_data_pipeline_spark.streaming.rollup import (
        merge_rollup,
        read_rollup,
    )

    sdir = os.path.join(scratch_dir("squant", sf_dir), "state")
    ev = read_table(spark, sf_dir, "events").where(F.col("value") > 0)
    c = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    max_id = c.agg(F.max("event_id")).collect()[0][0] or 0
    t1, t2 = max_id // 3, 2 * max_id // 3
    for epoch, pred in enumerate(
        (
            F.col("event_id") <= t1,
            (F.col("event_id") > t1) & (F.col("event_id") <= t2),
            F.col("event_id") > t2,
        )
    ):
        batch = c.filter(pred)
        partials = batch.groupBy(
            _bucket_col(F.col("cents")).alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        merge_rollup(spark, partials, sdir, [], epoch)
    snap = read_rollup(spark, sdir)
    out_schema = (
        "p bigint, exact_cents bigint, bucket_lo bigint, "
        "bucket_hi bigint, bounds_ok boolean"
    )
    if snap is None:
        return spark.createDataFrame([], out_schema)
    state = snap.select(F.col("bucket").alias("key"), F.col("n").alias("cnt"))
    # bounded state: resolve the probe quantile buckets driver-side
    rows = sorted(
        (r["key"], r["cnt"]) for r in state.collect()
    )
    total = sum(cnt for _, cnt in rows)
    if total == 0:
        # empty stream: no quantiles to certify — empty result, never a
        # driver exception (matches the other registry queries)
        return spark.createDataFrame([], out_schema)

    def bucket_for(rank: int) -> tuple[int, int]:
        cum = 0
        for key, cnt in rows:
            if cum + cnt >= rank:
                return key, cum  # cum = rows strictly below this bucket
            cum += cnt
        return rows[-1][0], cum - rows[-1][1]

    def lo_hi(key: int) -> tuple[int, int]:
        d, lead = key // 100, key % 100
        if d >= 2:
            lo = lead * 10 ** (d - 2)
            return lo, lo + 10 ** (d - 2)
        return lead, lead + 1
    import math

    probes = []
    for p in (50, 95, 99):
        rank = math.ceil(p * total / 100.0)
        key, below = bucket_for(rank)
        lo, hi = lo_hi(key)
        probes.append((p, key, rank - below, lo, hi))
    pr = spark.createDataFrame(
        probes,
        "p bigint, key bigint, rank_in bigint, bucket_lo bigint, bucket_hi bigint",
    )
    # Exact side for the gate WITHOUT a global sort: the sketch already
    # located each quantile's bucket, so the exact value is the
    # (rank - below)-th smallest INSIDE that bucket — a rank window
    # PARTITIONED BY bucket over only the probed buckets' rows (at
    # larger scales the same narrowing iterates: re-bucket within the
    # hit bucket until the slice is small).
    from pyspark.sql import Window

    in_probed = c.withColumn("key", _bucket_col(F.col("cents"))).join(
        F.broadcast(pr.select("key").distinct()), "key", "left_semi"
    )
    ranked = in_probed.select(
        "key",
        "cents",
        F.row_number()
        .over(Window.partitionBy("key").orderBy("cents"))
        .alias("rn"),
    )
    return (
        pr.join(ranked, (pr.key == ranked.key) & (pr.rank_in == ranked.rn))
        .select(
            "p",
            F.col("cents").alias("exact_cents"),
            "bucket_lo",
            "bucket_hi",
            (
                (F.col("cents") >= F.col("bucket_lo"))
                & (F.col("cents") < F.col("bucket_hi"))
            ).alias("bounds_ok"),
        )
        .orderBy("p")
    )


# SURVEY.md §2.9/§2.11: TIME TRAVEL over the CDC snapshot store (as-of
# reads vs the live state, diffed and classified) and a seasonal-naive
# FORECAST BACKTEST (the honest baseline every forecasting system must
# beat, evaluated on a held-out window in exact integers).
#
# Both drive REAL machinery: time travel reads epoch-anchored snapshots
# written by `streaming.cdc.apply_changes_batch` (the q_dedup_registry
# convention — the query IS the integration test of the maintenance
# path, oracle-checked against a derived batch twin).


@query(
    "q_time_travel",
    oracle="""
    WITH ch AS (
      SELECT o_custkey AS id, o_orderkey AS seq,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS d
      FROM orders
    ), av AS (
      SELECT id, MAX(seq) AS seq FROM ch
      WHERE d < DATE '1999-01-01' GROUP BY 1
    ), fin AS (
      SELECT id, MAX(seq) AS seq FROM ch GROUP BY 1
    ), cls AS (
      SELECT f.id,
             CASE WHEN a.seq IS NULL THEN 'created'
                  WHEN a.seq <> f.seq THEN 'updated'
                  ELSE 'unchanged' END AS class,
             COALESCE((SELECT c.cents FROM ch c
                       WHERE c.id = f.id AND c.seq = a.seq), 0)
               AS cents_asof_row,
             (SELECT c.cents FROM ch c
              WHERE c.id = f.id AND c.seq = f.seq) AS cents_final_row
      FROM fin f LEFT JOIN av a ON f.id = a.id
    )
    SELECT class,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents_asof_row) AS BIGINT) AS cents_asof,
           CAST(SUM(cents_final_row) AS BIGINT) AS cents_final
    FROM cls GROUP BY class ORDER BY class
    """,
)
def q_time_travel(spark, sf_dir):
    """TIME TRAVEL: the per-customer "latest order" CDC state read
    AS-OF an earlier epoch vs the live state, with every key classified
    as created / updated / unchanged between the two views — the
    what-changed-since-yesterday question snapshot stores exist to
    answer.

    The query drives the REAL pipeline: three change epochs (order
    history split at 1997/1999 date boundaries, change-sequence =
    orderkey) merge through `streaming.cdc.apply_changes_batch` into
    epoch-anchored snapshot dirs; the as-of view is
    `read_state(before_epoch=2)` — exactly the recovery-read API — and
    the oracle recomputes both views as batch MAX(seq) twins.

    Scale shape: per-epoch merge cost is |state| + |batch| (the CDC
    contract, probed in SCALE.md); the diff is ONE full-outer key join
    of two snapshots collapsing to a 3-row class rollup. Money is
    exact cents; winners are unique-seq argmax (no float, no ties)."""
    from self_healing_data_pipeline_spark.session import scratch_dir
    from self_healing_data_pipeline_spark.streaming.cdc import (
        apply_changes_batch,
        read_state,
    )

    o = read_table(spark, sf_dir, "orders")
    ch = o.select(
        F.lit("upsert").alias("op"),
        F.col("o_custkey").alias("id"),
        F.col("o_orderkey").alias("seq"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderdate").alias("d"),
    )
    cut1 = F.lit("1997-01-01").cast("timestamp_ntz")
    cut2 = F.lit("1999-01-01").cast("timestamp_ntz")
    epochs = [
        ch.filter(F.col("d") < cut1),
        ch.filter((F.col("d") >= cut1) & (F.col("d") < cut2)),
        ch.filter(F.col("d") >= cut2),
    ]
    sd = scratch_dir("timetravel", sf_dir)
    for e, batch in enumerate(epochs):
        apply_changes_batch(
            spark, batch.drop("d"), sd, key="id", seq="seq", epoch_id=e
        )
    asof = read_state(spark, sd, before_epoch=2).select(
        F.col("id"), F.col("seq").alias("a_seq"), F.col("cents").alias("a_cents")
    )
    final = read_state(spark, sd).select(
        F.col("id"), F.col("seq").alias("f_seq"), F.col("cents").alias("f_cents")
    )
    cls = final.join(asof, "id", "left").select(
        F.when(F.col("a_seq").isNull(), F.lit("created"))
        .when(F.col("a_seq") != F.col("f_seq"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("class"),
        F.coalesce(F.col("a_cents"), F.lit(0)).alias("cents_asof_row"),
        F.col("f_cents").alias("cents_final_row"),
    )
    return (
        cls.groupBy("class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents_asof_row").cast("bigint").alias("cents_asof"),
            F.sum("cents_final_row").cast("bigint").alias("cents_final"),
        )
        .orderBy("class")
    )


# SURVEY.md §2.9 streaming ops / reporting: WATERMARK TUNING AUDIT (how
# many events each candidate watermark delay would drop — the number
# that picks `withWatermark` in production) and a SHIP-SLA attainment
# report (per-priority fraction shipped within 30/60/90 days, exact
# ppm).
#
# Reference scope: operational lateness/SLA reporting over the delegated
# SQL surface (`APP/services/pgliteService.ts:36-49`).


# Candidate watermark delays (minutes) — the tuning grid.
_WM_DELAYS = (1, 5, 15)


@query(
    "q_watermark_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type,
             EPOCH_US(ts) AS us,
             MAX(EPOCH_US(ts)) OVER (PARTITION BY event_type
                                     ORDER BY event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS max_seen_us
      FROM events
    ), lateness AS (
      SELECT event_type,
             CASE WHEN max_seen_us IS NULL OR max_seen_us <= us THEN 0
                  ELSE max_seen_us - us END AS late_us
      FROM arr
    ), grid AS (
      SELECT * FROM (VALUES {", ".join(f"({d})" for d in _WM_DELAYS)})
        AS t(delay_min)
    )
    SELECT l.event_type,
           CAST(g.delay_min AS BIGINT) AS delay_min,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN l.late_us > g.delay_min * 60000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN l.late_us > g.delay_min * 60000000
                         THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS dropped_ppm
    FROM lateness l, grid g
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_watermark_audit(spark, sf_dir):
    """WATERMARK TUNING AUDIT: for each candidate delay (1/5/15 min),
    how many events would arrive LATER than the watermark and be
    dropped by a streaming aggregation — the measurement that picks
    `withWatermark` in production instead of guessing. An event's
    lateness is (max event-time already seen in arrival order) − (its
    own event-time); arrival order is ingest id (event_id), the same
    convention as the repo's replay tests.

    Determinism: exact integer microseconds end-to-end; the drop rate
    is exact integer ppm (floor division).

    Scale shape: the arrival-order running max does NOT partition by
    event_type alone (a handful of types would serialize the scan at
    100× — the r4-verdict failure class); it uses the TWO-PHASE
    decomposition (q_pack_context's prefix-sum pattern, with max):
    arrival-contiguous event-id buckets → per-(type, bucket) maxima →
    prefix max over the tiny bucket grain broadcast back → narrow
    in-bucket running max; max-seen = greatest(prior buckets, within
    bucket). Then a 3-row broadcast delay grid and a partial-
    aggregated (type × delay) rollup. No per-type serial pass."""
    e = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = e.select(
        "event_type",
        "event_id",
        us.alias("us"),
        F.shiftright(F.col("event_id"), 12).alias("bkt"),
    )
    bmax = base.groupBy("event_type", "bkt").agg(F.max("us").alias("bmax"))
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bmax.select(
        "event_type", "bkt", F.max("bmax").over(wprev).alias("prior_max")
    )
    win = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = (
        base.join(F.broadcast(offsets), ["event_type", "bkt"])
        .withColumn("in_bkt_max", F.max("us").over(win))
        .select(
            "event_type",
            "us",
            # greatest() skips NULLs: first bucket has no prior_max,
            # first row in a bucket has no in_bkt_max, both-null (the
            # type's very first arrival) stays NULL -> lateness 0
            F.greatest(F.col("prior_max"), F.col("in_bkt_max")).alias(
                "max_seen_us"
            ),
        )
    )
    late = arr.select(
        "event_type",
        F.when(
            F.col("max_seen_us").isNull()
            | (F.col("max_seen_us") <= F.col("us")),
            F.lit(0).cast("bigint"),
        )
        .otherwise(F.col("max_seen_us") - F.col("us"))
        .alias("late_us"),
    )
    grid = F.broadcast(
        spark.createDataFrame([(d,) for d in _WM_DELAYS], "delay_min int")
    )
    j = late.crossJoin(grid)
    dropped = F.sum(
        F.when(
            F.col("late_us") > F.col("delay_min").cast("bigint") * 60000000,
            1,
        ).otherwise(0)
    ).cast("bigint")
    n = F.count(F.lit(1)).cast("bigint")
    agg = j.groupBy(
        "event_type", F.col("delay_min").cast("bigint").alias("delay_min")
    ).agg(dropped.alias("n_dropped"), n.alias("n_events"))
    scaled = F.col("n_dropped") * F.lit(1000000)
    ppm = (
        (scaled - F.pmod(scaled, F.col("n_events"))) / F.col("n_events")
    ).cast("bigint")
    return agg.select(
        "event_type",
        "delay_min",
        "n_events",
        "n_dropped",
        ppm.alias("dropped_ppm"),
    ).orderBy("event_type", "delay_min")
