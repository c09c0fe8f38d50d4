"""Statistics queries (SURVEY.md §2.4, §2.10).

Regression, correlation, hypothesis tests and ML-evaluation statistics;
concentration and distribution measures; sketches and feature statistics.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_distinct_sketch_accuracy",
    oracle="""
    SELECT 'l_partkey' AS col, COUNT(DISTINCT l_partkey) AS exact_distinct,
           TRUE AS approx_within_5pct FROM lineitem
    UNION ALL
    SELECT 'o_custkey', COUNT(DISTINCT o_custkey), TRUE FROM orders
    UNION ALL
    SELECT 'user_id', COUNT(DISTINCT user_id), TRUE FROM events
    ORDER BY col
    """,
)
def q_distinct_sketch_accuracy(spark, sf_dir):
    """HLL sketch accuracy GATE: per column, the exact distinct count
    (oracle-verified) alongside an in-row witness that the
    ``approx_count_distinct`` estimate (rsd=0.02, the profiler's
    cardinality sketch) lands within ±5% of it. The oracle expects the
    witness TRUE — if Spark's HLL ever drifts out of tolerance the hash
    check fails, so sketch accuracy is pinned by the correctness gate
    itself, at every SF the driver runs."""
    frames = []
    for tbl, col in (
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ):
        t = read_table(spark, sf_dir, tbl)
        frames.append(
            t.agg(
                F.countDistinct(col).alias("exact_distinct"),
                F.approx_count_distinct(col, rsd=0.02).alias("est"),
            ).select(
                F.lit(col).alias("col"),
                "exact_distinct",
                (
                    F.abs(F.col("est") - F.col("exact_distinct"))
                    <= 0.05 * F.col("exact_distinct")
                ).alias("approx_within_5pct"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("col")


@query(
    "q_pareto_frontier",
    oracle="""
    WITH agg AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT a.o_custkey, a.spend_cents, a.n_orders
    FROM agg a
    WHERE NOT EXISTS (
      SELECT 1 FROM agg b
      WHERE b.spend_cents >= a.spend_cents AND b.n_orders >= a.n_orders
        AND (b.spend_cents > a.spend_cents OR b.n_orders > a.n_orders)
    )
    ORDER BY a.spend_cents DESC, a.o_custkey
    """,
)
def q_pareto_frontier(spark, sf_dir):
    """Pareto frontier (skyline) of customers over (total spend, order
    count) — multi-objective top-N without collapsing objectives into a
    weighted score. The oracle is the O(n²) NOT-EXISTS dominance
    definition; the Spark plan is the O(n log n) envelope form with the
    LOCAL-SKYLINE MERGE (skyline(skylines) = skyline): pre-aggregate to
    ONE row per distinct spend (max orders at that spend), bucket spends
    into ~1000 deterministic value ranges, run the running-max-of-orders
    envelope WITHIN each bucket (parallel across buckets; integer cents
    ⟹ "spend > s" is the exact RANGE frame ≥ s+1), and close each
    bucket with the suffix-max of the strictly-higher buckets — a
    per-bucket aggregate small enough to collect (≤1001 rows, bounded by
    the bucket constant, never by data) whose suffix scan runs
    driver-side and broadcasts back. No ordered pass ever sees more than
    one bucket, so nothing serializes at scale
    (tests/test_scale_shapes.py asserts no SinglePartition). Customers
    then join back against the 〈spend → envelope〉 table: dominated iff a
    strictly-richer point has ≥ orders, or an equal-spend point has >
    orders. Spend in exact summed cents so no float-sum ordering can
    split the frontier across engines."""
    o = read_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("spend_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    per_spend = agg.groupBy("spend_cents").agg(
        F.max("n_orders").alias("mx_orders")
    )
    # cache across the two small build jobs (min/max + per-bucket maxima);
    # released before returning — the final plan recomputes it once
    per_spend = per_spend.cache()
    mm = per_spend.agg(
        F.min("spend_cents").alias("lo"), F.max("spend_cents").alias("hi")
    ).collect()[0]
    lo = mm["lo"] if mm["lo"] is not None else 0
    hi = mm["hi"] if mm["hi"] is not None else 0
    width = max(1, (hi - lo) // 1000 + 1)
    bucket = F.floor((F.col("spend_cents") - F.lit(lo)) / F.lit(width))
    spends = per_spend.withColumn("__b", bucket)
    # per-bucket maxima -> driver suffix scan over STRICTLY higher buckets
    bmax = {
        r["__b"]: r["m"]
        for r in spends.groupBy("__b").agg(F.max("mx_orders").alias("m")).collect()
    }
    per_spend.unpersist(blocking=False)  # build jobs done
    suffix: dict[int, int | None] = {}
    run = None
    for b in sorted(bmax, reverse=True):
        suffix[b] = run
        run = bmax[b] if run is None else max(run, bmax[b])
    higher = spark.createDataFrame(
        [(int(b), s) for b, s in suffix.items()] or [(0, None)],
        "__b long, __higher long",
    )
    w = (
        Window.partitionBy("__b")
        .orderBy(F.desc("spend_cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    env = (
        spends.join(F.broadcast(higher), "__b", "left")
        .select(
            "spend_cents",
            "mx_orders",
            F.greatest(
                F.max("mx_orders").over(w), F.col("__higher")
            ).alias("richer_max"),
        )
    )
    return (
        agg.join(env, "spend_cents")
        .filter(
            ~(
                (F.col("richer_max").isNotNull() & (F.col("richer_max") >= F.col("n_orders")))
                | (F.col("mx_orders") > F.col("n_orders"))
            )
        )
        .select("o_custkey", "spend_cents", "n_orders")
        .orderBy(F.desc("spend_cents"), "o_custkey")
    )


_HH_DENOM = 200  # heavy hitter = token with count * 200 > total tokens
# Misra-Gries counters per partition. The guarantee needs k > DENOM:
# a token decremented away in EVERY partition summary has global count
# <= sum_p n_p/k = N/k <= N/256 < N/200, so every true heavy hitter
# survives at least one summary regardless of partitioning.
_MG_K = 256


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST(string_split(lower(text), ' ')) AS tok FROM documents
    ), clean AS (SELECT tok FROM toks WHERE tok <> ''),
    tot AS (SELECT COUNT(*) AS n FROM clean)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM clean CROSS JOIN tot
    GROUP BY tok, tot.n
    HAVING COUNT(*) * {_HH_DENOM} > tot.n
    ORDER BY freq DESC, tok
    """,
)
def q_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (tokens above a 1/200 frequency share)
    via the bounded-memory two-phase plan: per-partition MISRA-GRIES
    summaries (k=256 counters) produce a guaranteed candidate SUPERSET,
    then one exact aggregate restricted to (broadcast) candidates
    applies the true threshold. The kernel is the VECTORIZED mergeable-
    summaries form (Agarwal et al. 2012): each Arrow batch contributes
    its exact ``value_counts`` (an error-free summary), merged pointwise
    into the running counters; when the merge overflows k entries it
    subtracts the (k+1)-th largest count from all and keeps the
    positives — one sort of ≤ k+batch-distinct ints per batch instead of
    a per-token Python loop. The merged summary's undercount is ≤
    n_p/(k+1), so a token absent from EVERY partition summary has global
    count ≤ Σ n_p/(k+1) = N/257 < N/200: every true heavy hitter
    survives somewhere, under ANY partitioning. The full token stream is
    never shuffled for candidacy — each task emits ≤ k (token, weight)
    rows, and the bounded summaries (≤ (k+1)·|partitions| rows) are
    collected once driver-side (no cache lingering in executor memory)
    to build the broadcast candidate set and the grand total. Because
    phase 2 is exact over a superset, the result equals the oracle's
    plain GROUP BY / HAVING: the sketch changes cost, not answers."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")

    def mg_partition(batches):
        counters: dict[str, int] = {}
        seen = 0
        for pdf in batches:
            seen += len(pdf)
            for tok, cnt in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > _MG_K:
                d_sub = sorted(counters.values(), reverse=True)[_MG_K]
                counters = {
                    t: c - d_sub for t, c in counters.items() if c > d_sub
                }
        # sentinel row (tok=NULL) carries this partition's stream length
        # so the grand total comes FROM the summary pass — no separate
        # counting scan of the token stream
        yield pd.DataFrame(
            {
                "tok": list(counters) + [None],
                "w": list(counters.values()) + [seen],
            }
        )

    rows = toks.mapInPandas(mg_partition, "tok string, w long").collect()
    cand_toks = sorted({r["tok"] for r in rows if r["tok"] is not None})
    grand_total = sum(r["w"] for r in rows if r["tok"] is None)
    candidates = spark.createDataFrame(
        [(t,) for t in cand_toks] or [("",)], "tok string"
    )
    return (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") * _HH_DENOM > F.lit(grand_total))
        .select("tok", F.col("freq").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "tok")
    )


@query(
    "q_type_weekday_chisq",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS wd,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
    ), rowt AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1
    ), colt AS (
      SELECT wd, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1
    )
    SELECT obs.event_type, obs.wd, obs.o, rowt.r AS row_total,
           colt.c AS col_total,
           CAST(CAST(rowt.r AS DECIMAL(38,0)) * colt.c AS DOUBLE)
             / CAST(tot.n AS DOUBLE) AS expected,
           CAST((CAST(obs.o AS DECIMAL(38,0)) * tot.n
                 - CAST(rowt.r AS DECIMAL(38,0)) * colt.c)
                * (CAST(obs.o AS DECIMAL(38,0)) * tot.n
                   - CAST(rowt.r AS DECIMAL(38,0)) * colt.c) AS DOUBLE)
             / CAST(CAST(tot.n AS DECIMAL(38,0)) * rowt.r * colt.c AS DOUBLE)
             AS chi_contrib
    FROM obs JOIN rowt USING (event_type) JOIN colt USING (wd), tot
    ORDER BY obs.event_type, obs.wd
    """,
)
def q_type_weekday_chisq(spark, sf_dir):
    """Contingency table event_type × weekday with per-cell chi-square
    contributions — the categorical-independence drift check ("did the
    weekly mix shift?") next to the numeric drift tests in the DQ
    suite. Per-cell statistic: (O·N − R·C)² / (N·R·C), all masses
    exact integers, one IEEE division per cell; the bounded cell grid
    (types × 7) is emitted instead of the order-sensitive float total,
    so the output is deterministic and the caller sums or thresholds
    as needed.

    Plan: ONE counted grain; marginals and the grand total attach as
    windows over the bounded cell grid (types x 7 rows — the
    window-over-aggregate policy), so the event stream is scanned and
    shuffled exactly once and no join appears at all."""
    ev = read_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        F.dayofweek(F.to_date("ts")).cast("bigint").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    # marginals + grand total as WINDOWS OVER THE AGGREGATE (one-scan
    # report policy): three window passes over the bounded types x 7
    # cell grid replace three re-aggregation branches of the event scan
    from pyspark.sql import Window as _W

    j = obs.select(
        "*",
        F.sum("o").over(_W.partitionBy("event_type")).cast("bigint").alias("row_total"),
        F.sum("o").over(_W.partitionBy("wd")).cast("bigint").alias("col_total"),
        F.sum("o").over(_W.partitionBy()).cast("bigint").alias("n"),
    )
    # cross-products in DECIMAL(38): o*n and n*r*c are ~n^2 and ~n^3
    # masses that overflow int64 beyond ~1e7 events (dsum discipline)
    dev = F.col("o").cast("decimal(38,0)") * F.col("n") - F.col(
        "row_total"
    ).cast("decimal(38,0)") * F.col("col_total")
    return j.select(
        "event_type",
        "wd",
        "o",
        "row_total",
        "col_total",
        (
            (F.col("row_total").cast("decimal(38,0)") * F.col("col_total"))
            .cast("double")
            / F.col("n").cast("double")
        ).alias("expected"),
        (
            (dev * dev).cast("double")
            / (
                F.col("n").cast("decimal(38,0)")
                * F.col("row_total")
                * F.col("col_total")
            ).cast("double")
        ).alias("chi_contrib"),
    ).orderBy("event_type", "wd")


# SURVEY.md §2.9: survival analysis — a Kaplan-Meier estimator over user
# activity lifetimes with right censoring at the observation boundary,
# the churn-analysis op one level above the existing retention curves.
#
# Determinism note (the hard part of KM cross-engine): the survival
# curve is a RUNNING PRODUCT of IEEE factors, and windowed product
# aggregates don't guarantee a fold order (segment trees reorder the
# multiplies). Both sides therefore materialize the ordered factor array
# ONCE (bounded by the observation window, ≤ span days) and compute each
# row's survival as an EXPLICIT LEFT FOLD over its prefix —
# ``F.aggregate(slice(...), 1.0, acc*x)`` vs DuckDB
# ``list_reduce(list_prepend(1.0, fa[1:k]), ...)`` — the same
# multiplication order, hence bit-exact.


@query(
    "q_survival_km",
    oracle="""
    WITH u AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
      FROM events WHERE event_type = 'purchase' AND value >= 100.0
      GROUP BY 1
    ), du AS (
      SELECT CAST(l - f AS BIGINT) AS dur,
             CASE WHEN l = (SELECT MAX(l) FROM u) THEN 1 ELSE 0 END AS cen
      FROM u
    ), pd AS (
      SELECT dur,
             CAST(SUM(1 - cen) AS BIGINT) AS deaths,
             CAST(SUM(cen) AS BIGINT) AS censored
      FROM du GROUP BY dur
    ), r AS (
      SELECT dur, deaths, censored,
             CAST(SUM(deaths + censored) OVER (ORDER BY dur DESC)
                  AS BIGINT) AS n_at_risk
      FROM pd
    ), fct AS (
      SELECT dur, deaths, censored, n_at_risk,
             1.0 - CAST(deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
               AS factor
      FROM r
    ), arr AS (
      SELECT LIST(factor ORDER BY dur) AS fa, LIST(dur ORDER BY dur) AS da
      FROM fct
    )
    SELECT f.dur, f.deaths, f.censored, f.n_at_risk,
           LIST_REDUCE(
             LIST_PREPEND(1.0, fa[1:LIST_POSITION(da, f.dur)]),
             (a, b) -> a * b
           ) AS survival
    FROM fct f, arr ORDER BY f.dur
    """,
)
def q_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve over PREMIUM-PURCHASE LIFETIMES:
    per user, duration = days between first and last high-value
    purchase (the sparse stream that actually spreads lifetimes); users whose
    last event falls on the corpus's final day are RIGHT-CENSORED
    (still alive at the observation boundary — they stay in the risk
    set but never count as churn). Per duration step: deaths, censored
    exits, the at-risk count (suffix sum over the bounded timeline),
    and S(d) = prod_{k<=d} (1 - deaths_k / n_k).

    Plan: one per-user aggregate (map-side partials) → per-duration
    counts → the timeline is CALENDAR-BOUNDED (<= observation-span
    rows), so the suffix-sum window and the broadcast factor array are
    bounded stages in the q_orders_backlog discipline; survival folds
    each prefix explicitly so the multiply order matches the oracle
    exactly (see module docstring)."""
    ev = read_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("value") >= 100.0)
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l")
    )
    mx = u.agg(F.max("l").alias("m"))
    du = u.crossJoin(F.broadcast(mx)).select(
        F.datediff("l", "f").cast("bigint").alias("dur"),
        F.when(F.col("l") == F.col("m"), F.lit(1)).otherwise(F.lit(0)).alias("cen"),
    )
    pd_ = du.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("cen")).cast("bigint").alias("deaths"),
        F.sum("cen").cast("bigint").alias("censored"),
    )
    w_suffix = Window.orderBy("dur").rowsBetween(0, Window.unboundedFollowing)
    fct = pd_.withColumn(
        "n_at_risk",
        F.sum(F.col("deaths") + F.col("censored")).over(w_suffix).cast("bigint"),
    ).withColumn(
        "factor",
        F.lit(1.0)
        - F.col("deaths").cast("double") / F.col("n_at_risk").cast("double"),
    )
    arr = fct.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dur"), F.col("factor")))
        ).alias("sf")
    ).select(
        F.transform("sf", lambda x: x["factor"]).alias("fa"),
        F.transform("sf", lambda x: x["dur"]).alias("da"),
    )
    return (
        fct.crossJoin(F.broadcast(arr))
        .select(
            "dur",
            "deaths",
            "censored",
            "n_at_risk",
            F.aggregate(
                F.slice("fa", 1, F.array_position("da", F.col("dur")).cast("int")),
                F.lit(1.0),
                lambda acc, x: acc * x,
            ).alias("survival"),
        )
        .orderBy("dur")
    )


@query(
    "q_feature_scale",
    oracle="""
    WITH c AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sx,
             SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS sxx,
             CAST(MIN(cents) AS BIGINT) AS mn,
             CAST(MAX(cents) AS BIGINT) AS mx
      FROM c
    )
    SELECT c.o_orderkey,
           c.cents,
           (CAST(c.cents AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
             / (SQRT(CAST(CAST(m.n AS DECIMAL(38,0)) * m.sxx
                          - CAST(m.sx AS DECIMAL(38,0)) * m.sx AS DOUBLE))
                / CAST(m.n AS DOUBLE))
             AS zscore,
           CAST(c.cents - m.mn AS DOUBLE) / CAST(m.mx - m.mn AS DOUBLE)
             AS minmax
    FROM c, m
    """,
)
def q_feature_scale(spark, sf_dir):
    """Feature standardization (the preprocessing step before model
    training): per-order z-score and min-max scaling of the price
    feature from ONE moment-sum pass (n, Σx, Σx², min, max over exact
    cents) broadcast back over the row scan — two column-pruned scans
    total (stats + rows), never a global sort or per-row re-aggregation.

    Cross-engine exactness: population sigma = sqrt(n·Σx² − (Σx)²)/n
    with the SECOND MOMENT carried in exact DECIMAL(38) (cents² sums
    overflow int64 even at tiny SFs — Spark's ANSI mode rightly
    refuses; the decimal lane is the repo's ``dsum`` discipline applied
    to variance); the single decimal→double cast rounds identically on
    both engines, IEEE-754 sqrt is correctly rounded, and the remaining
    subtract/divide operand order mirrors the oracle — bit-exact."""
    o = read_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("sxx"),
        F.min("cents").cast("bigint").alias("mn"),
        F.max("cents").cast("bigint").alias("mx"),
    )
    mu = F.col("sx").cast("double") / F.col("n").cast("double")
    sigma = F.sqrt(
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).cast("double")
    ) / F.col("n").cast("double")
    return c.crossJoin(F.broadcast(m)).select(
        "o_orderkey",
        "cents",
        ((F.col("cents").cast("double") - mu) / sigma).alias("zscore"),
        (
            (F.col("cents") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn")).cast("double")
        ).alias("minmax"),
    )


# SURVEY.md §2.9: experimentation analytics — a deterministic A/B test
# readout (hash-assigned cohorts, conversion rates, pooled
# two-proportion z statistic) and batch sessionization with per-session
# statistics (30-minute inactivity rule).
#
# Scale discipline: cohort assignment is a pure hash projection (no
# assignment table to join), the z statistic reduces to exact integer
# masses with mirrored IEEE steps, and sessionization is the gaps-and-islands pattern — one LAG window per user, never a global stage.


@query(
    "q_ab_test",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS cohort,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT cohort,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM assigned GROUP BY cohort
    ), wide AS (
      SELECT
        (SELECT n_users FROM g WHERE cohort = 'A') AS na,
        (SELECT n_converted FROM g WHERE cohort = 'A') AS ca,
        (SELECT n_users FROM g WHERE cohort = 'B') AS nb,
        (SELECT n_converted FROM g WHERE cohort = 'B') AS cb
    )
    SELECT na AS n_users_a, ca AS n_conv_a,
           nb AS n_users_b, cb AS n_conv_b,
           CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS rate_a,
           CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS rate_b,
           CASE WHEN SQRT(
               (CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
               * (1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
               * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) > 0
           THEN (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                / SQRT(
                    (CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                    * (1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                    * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
           END AS z_stat
    FROM wide
    """,
)
def q_ab_test(spark, sf_dir):
    """A/B experiment readout: users assign to cohorts by an md5 hash
    of their id (the deterministic traffic split every experimentation
    platform uses — no assignment table, rebuild-stable), convert if
    they ever make a premium purchase (value >= 150 — the rare event an
    experiment actually moves; plain purchase saturates at 100% in the
    fixtures, a degenerate experiment), and the readout is per-cohort conversion rates
    plus the pooled two-proportion z statistic.

    Plan: one per-user aggregate (assignment is a pure projection
    inside it), one 2-row cohort rollup, and the z statistic computed
    on the single assembled row — exact integer masses end-to-end with
    the divide/sqrt steps in oracle-identical operand order (IEEE sqrt
    is correctly rounded, so the statistic is bit-exact)."""
    ev = read_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 150.0),
                F.lit(1),
            ).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("cohort"),
        "converted",
    )
    g = assigned.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    # pivot the 2-row rollup to one row via conditional aggregation —
    # branch-and-join would re-derive the per-user aggregate twice
    wide = g.agg(
        F.max(F.when(F.col("cohort") == "A", F.col("n_users"))).alias("n_users_a"),
        F.max(F.when(F.col("cohort") == "A", F.col("n_converted"))).alias("n_conv_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("n_users"))).alias("n_users_b"),
        F.max(F.when(F.col("cohort") == "B", F.col("n_converted"))).alias("n_conv_b"),
    )
    ra = F.col("n_conv_a").cast("double") / F.col("n_users_a").cast("double")
    rb = F.col("n_conv_b").cast("double") / F.col("n_users_b").cast("double")
    pooled = (F.col("n_conv_a") + F.col("n_conv_b")).cast("double") / (
        F.col("n_users_a") + F.col("n_users_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_users_a").cast("double")
            + F.lit(1.0) / F.col("n_users_b").cast("double")
        )
    )
    # degenerate experiment (0% or 100% pooled conversion) -> NULL, and
    # the guard keeps ANSI mode from erroring on the 0/0
    z = F.when(se > 0, (ra - rb) / se)
    return wide.select(
        "n_users_a",
        "n_conv_a",
        "n_users_b",
        "n_conv_b",
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        z.alias("z_stat"),
    )


@query(
    "q_skew_report",
    oracle="""
    WITH kc AS (
      SELECT l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM kc
    )
    SELECT suppkey, cnt, n_keys,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(cnt * n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS skew_x_avg
    FROM kc, st ORDER BY cnt DESC, suppkey LIMIT 10
    """,
)
def q_skew_report(spark, sf_dir):
    """Join-key SKEW report for ``lineitem.l_suppkey``: the 10 heaviest
    keys with their row share and skew multiple vs the average key
    (``cnt · n_keys / total`` — 1.0 means perfectly uniform) — the
    diagnostic a 100 TB operator runs BEFORE a big join to decide
    whether salting / AQE skew-join handling is needed; companion to
    the salted-join ops that consume its answer.

    Determinism: counts and the ``cnt·n_keys`` numerator are exact
    BIGINT; each ratio is one IEEE divide in mirrored operand order on
    the final 10-row frame.

    Scale shape: key-grain groupBy with map-side partial aggregation
    (shuffles (key, count) only), a 1-row stats frame that broadcasts,
    and a TakeOrderedAndProject top-10 — no global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    st = kc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    return (
        kc.crossJoin(F.broadcast(st))
        .select(
            "suppkey",
            "cnt",
            "n_keys",
            (F.col("cnt").cast("double") / F.col("total").cast("double"))
            .alias("share"),
            (
                (F.col("cnt") * F.col("n_keys")).cast("double")
                / F.col("total").cast("double")
            ).alias("skew_x_avg"),
        )
        .orderBy(F.col("cnt").desc(), "suppkey")
        .limit(10)
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH grain AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY flag) AS total
      FROM grain
    )
    SELECT flag,
           CAST(MIN(cents) AS BIGINT) AS median_cents,
           CAST(MAX(total) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cumw >= total
    GROUP BY flag ORDER BY flag
    """,
)
def q_weighted_median(spark, sf_dir):
    """Exact WEIGHTED MEDIAN of line price per return flag, weighted
    by quantity — the robust-center statistic percentile sketches
    approximate, computed exactly by rank selection (lower weighted
    median: the smallest value whose cumulative weight reaches half
    the total; entirely integer arithmetic, no interpolation).

    Scale shape: the raw fact collapses map-side to the (flag, cents)
    VALUE GRAIN first — the ordered pass then runs over at most
    |price domain| rows per flag (a value-bounded set that does NOT
    grow with fact rows; ~10^6 distinct cents at any SF), partitioned
    by flag. The same two-phase trick as q_percentile_bands: weights
    travel as exact int64, 2*cumw >= total avoids any division."""
    li = read_table(spark, sf_dir, "lineitem")
    grain = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint"))
        .cast("bigint")
        .alias("w")
    )
    from pyspark.sql import Window

    wo = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("flag")
    c = grain.select(
        "flag",
        "cents",
        F.sum("w").over(wo).alias("cumw"),
        F.sum("w").over(wt).alias("total"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("bigint").alias("median_cents"),
            F.max("total").cast("bigint").alias("total_weight"),
        )
        .orderBy("flag")
    )


@query(
    "q_class_weights",
    oracle="""
    WITH n AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_samples
      FROM embeddings GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n_samples) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM n
    )
    SELECT n.label, n.n_samples,
           CAST(t.total * 1000000 // (t.k * n.n_samples) AS BIGINT)
             AS weight_ppm
    FROM n, t ORDER BY n.label
    """,
)
def q_class_weights(spark, sf_dir):
    """CLASS-WEIGHT report over the embedding labels: per class,
    sample count and the balanced inverse-frequency weight
    total/(k·n_c) in exact integer ppm — what an imbalanced training
    run feeds its loss (sklearn's 'balanced' convention). A uniform
    corpus shows ~1.0 everywhere; any skew reads directly off the ppm
    column.

    Scale shape: one label-grain partial-aggregated count + a
    broadcast 1-row (total, k) scalar; integer floor division."""
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples")
    )
    t = n.agg(
        F.sum("n_samples").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    den = F.col("k") * F.col("n_samples")
    scaled = F.col("total") * F.lit(1000000)
    w = ((scaled - F.pmod(scaled, den)) / den).cast("bigint")
    return (
        n.crossJoin(F.broadcast(t))
        .select("label", "n_samples", w.alias("weight_ppm"))
        .orderBy("label")
    )


# SURVEY.md §2.4 profiling: CORRELATION MATRIX in ONE moment pass (every
# numeric-column pair's Pearson r — the profiler's relationships panel,
# generalizing q_agg_corr's single pair) and VALUE PERCENTILE LOOKUP
# (where fixed probe values sit in the distribution — the inverse of
# percentile selection, exact ppm).


# The numeric lineitem columns profiled pairwise, as exact integer
# cents (two decimals ×100).
_VARS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PAIRS = list(itertools.combinations(range(len(_VARS)), 2))

_CENTS = {v: f"CAST(ROUND({v} * 100) AS BIGINT)" for v in _VARS}

# Integer floor means (exact: sums of cents fit int64 comfortably).
_MU_SQL = ", ".join(
    f"SUM({_CENTS[v]}) // COUNT(*) AS m_{i}" for i, v in enumerate(_VARS)
)

# Centered moments: shifting by ANY per-variable constant leaves
# Pearson r mathematically unchanged, and the integer-mean shift keeps
# every moment inside int64 (centered cents² sums ~ n·var ≈ 2.4e18 at
# sf0.1) so the BIGINT→DOUBLE conversion is correctly rounded on both
# engines — the raw-moment form overflowed int64 AND hit DuckDB's
# one-ulp int128→double conversion above 2^53.
_CMOMS_SQL = ", ".join(
    [
        f"CAST(CAST(SUM(({_CENTS[_VARS[i]]} - m.m_{i})"
        f" * ({_CENTS[_VARS[j]]} - m.m_{j})) AS BIGINT) AS DOUBLE)"
        f" AS sp_{i}_{j}"
        for i in range(len(_VARS))
        for j in range(i, len(_VARS))
    ]
    + [
        f"CAST(CAST(SUM({_CENTS[_VARS[i]]} - m.m_{i}) AS BIGINT) AS DOUBLE)"
        f" AS s_{i}"
        for i in range(len(_VARS))
    ]
)


def _corr_sql(i: int, j: int) -> str:
    return (
        f"(n * sp_{i}_{j} - s_{i} * s_{j})"
        f" / (SQRT(GREATEST(n * sp_{i}_{i} - s_{i} * s_{i}, 0.0))"
        f" * SQRT(GREATEST(n * sp_{j}_{j} - s_{j} * s_{j}, 0.0)))"
    )


_PAIR_SELECTS = " UNION ALL ".join(
    f"SELECT '{_VARS[i]}' AS var_a, '{_VARS[j]}' AS var_b, "
    f"{_corr_sql(i, j)} AS corr FROM moms"
    for i, j in _PAIRS
)


@query(
    "q_corr_matrix",
    oracle=f"""
    WITH m AS (
      SELECT {_MU_SQL} FROM lineitem
    ), moms AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, {_CMOMS_SQL}
      FROM lineitem, m
    )
    SELECT var_a, var_b, corr FROM ({_PAIR_SELECTS})
    ORDER BY var_a, var_b
    """,
)
def q_corr_matrix(spark, sf_dir):
    """One-pass CORRELATION MATRIX: Pearson r for all 6 pairs of the
    four numeric lineitem columns from a single 15-moment aggregate
    over CENTERED exact-integer cents — the profiler's relationships
    panel, generalizing q_agg_corr: never one job per pair.

    Determinism and the centering trick: shifting each variable by its
    integer floor mean leaves r EXACTLY invariant while shrinking
    every moment into int64 (n·variance scale instead of n·mean²), so
    sums stay exact integers and the BIGINT→DOUBLE hop is correctly
    rounded on both engines — the raw-moment form both overflowed
    int64 at sf0.1 AND exposed DuckDB's one-ulp int128→double
    conversion above 2^53 (found by the oracle gate; this query
    documents the fence). Every r is then a mirrored IEEE chain.

    Scale shape: one tiny means pass (broadcast 1-row) + ONE
    partial-aggregated moment scan; the 6-row matrix unfolds from the
    scalar frame. Column count grows moment WIDTH (k²), not passes."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = [
        F.round(F.col(v) * 100).cast("bigint").alias(f"c_{i}")
        for i, v in enumerate(_VARS)
    ]
    base = li.select(*cents)
    mu_aggs = []
    for i in range(len(_VARS)):
        s = F.sum(F.col(f"c_{i}"))
        n = F.count(F.lit(1))
        mu_aggs.append(((s - F.pmod(s, n)) / n).cast("bigint").alias(f"m_{i}"))
    mu = base.agg(*mu_aggs)

    j = base.crossJoin(F.broadcast(mu))
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i in range(len(_VARS)):
        for k in range(i, len(_VARS)):
            aggs.append(
                F.sum(
                    (F.col(f"c_{i}") - F.col(f"m_{i}"))
                    * (F.col(f"c_{k}") - F.col(f"m_{k}"))
                )
                .cast("bigint")
                .cast("double")
                .alias(f"sp_{i}_{k}")
            )
    for i in range(len(_VARS)):
        aggs.append(
            F.sum(F.col(f"c_{i}") - F.col(f"m_{i}"))
            .cast("bigint")
            .cast("double")
            .alias(f"s_{i}")
        )
    m = j.agg(*aggs)

    def corr(i, k):
        n = F.col("n")
        si, sk = F.col(f"s_{i}"), F.col(f"s_{k}")
        sik = F.col(f"sp_{i}_{k}")
        sii, skk = F.col(f"sp_{i}_{i}"), F.col(f"sp_{k}_{k}")
        return (n * sik - si * sk) / (
            F.sqrt(F.greatest(n * sii - si * si, F.lit(0.0)))
            * F.sqrt(F.greatest(n * skk - sk * sk, F.lit(0.0)))
        )

    rows = None
    for i, k in _PAIRS:
        r = m.select(
            F.lit(_VARS[i]).alias("var_a"),
            F.lit(_VARS[k]).alias("var_b"),
            corr(i, k).alias("corr"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("var_a", "var_b")


_PROBES = (100000, 1000000, 10000000)  # cents: $1k, $10k, $100k


@query(
    "q_value_percentile",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), probes AS (
      SELECT * FROM (VALUES {", ".join(f"({p})" for p in _PROBES)})
        AS t(probe_cents)
    )
    SELECT CAST(p.probe_cents AS BIGINT) AS probe_cents,
           CAST(SUM(CASE WHEN v.cents <= p.probe_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_at_or_below,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN v.cents <= p.probe_cents THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS pct_rank_ppm
    FROM v, probes p
    GROUP BY p.probe_cents ORDER BY probe_cents
    """,
)
def q_value_percentile(spark, sf_dir):
    """VALUE PERCENTILE LOOKUP — the inverse of percentile selection:
    for fixed probe amounts ($1k/$10k/$100k), the exact-ppm fraction
    of orders at or below each — "is this order big?" answered
    against the live distribution (the threshold-setting companion to
    q_histogram_equidepth and q_percentile_cont).

    Scale shape: the 3-row probe grid broadcasts into ONE
    conditional-counter scan (one counter per probe, one pass — the
    q_dq_expectations discipline); integer ppm."""
    o = read_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    probes = F.broadcast(
        spark.createDataFrame([(p,) for p in _PROBES], "probe_cents long")
    )
    j = v.crossJoin(probes)
    hits = F.sum(
        F.when(F.col("cents") <= F.col("probe_cents"), 1).otherwise(0)
    ).cast("bigint")
    n = F.count(F.lit(1)).cast("bigint")
    agg = j.groupBy("probe_cents").agg(
        hits.alias("n_at_or_below"), n.alias("n_total")
    )
    scaled = F.col("n_at_or_below") * F.lit(1000000)
    ppm = ((scaled - F.pmod(scaled, F.col("n_total"))) / F.col("n_total")).cast(
        "bigint"
    )
    return agg.select(
        "probe_cents", "n_at_or_below", "n_total", ppm.alias("pct_rank_ppm")
    ).orderBy("probe_cents")


# SURVEY.md §2.4 statistics: GROUPED OLS REGRESSION (slope / intercept /
# R² per segment — the profiler's trend-fit panel, one moment pass, no
# per-group jobs) and GINI CONCENTRATION (revenue inequality per nation
# via a two-phase bucketed rank — the global-sort-free form of the
# classic Lorenz/Gini audit).
#
# Both reuse q_corr_matrix's exactness discipline: doubles
# become integer cents, every accumulated moment is an exact integer
# (centered where magnitudes demand it), and the only floating-point
# steps are final mirrored IEEE chains identical in Spark and DuckDB.


# Revenue-cents band width (2^20 cents ≈ $10.5k) for the two-phase
# rank: per-(nation, band) populations stay balanced and the band
# table is bounded (≈ max_revenue / 2^20 rows per nation).
_BAND_SHIFT = 20


@query(
    "q_regr_slope",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS grp,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT grp, SUM(x) // COUNT(*) AS mx, SUM(y) // COUNT(*) AS my
      FROM c GROUP BY grp
    ), moms AS (
      SELECT c.grp,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(CAST(SUM((c.x - m.mx) * (c.y - m.my)) AS BIGINT)
               AS DOUBLE) AS sxy,
             CAST(CAST(SUM((c.x - m.mx) * (c.x - m.mx)) AS BIGINT)
               AS DOUBLE) AS sxx,
             CAST(CAST(SUM((c.y - m.my) * (c.y - m.my)) AS BIGINT)
               AS DOUBLE) AS syy,
             CAST(CAST(SUM(c.x - m.mx) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(c.y - m.my) AS BIGINT) AS DOUBLE) AS sy
      FROM c JOIN m ON c.grp = m.grp
      GROUP BY c.grp
    )
    SELECT grp AS returnflag, n_rows AS n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
             * (sx / n)) AS intercept_centered,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM moms ORDER BY returnflag
    """,
)
def q_regr_slope(spark, sf_dir):
    """GROUPED OLS: per return flag, the least-squares fit of
    extendedprice on quantity — slope (price per unit quantity, cents
    per cent so the ×100 scaling cancels), the centered intercept, and
    R² — the trend line a profiler draws on every scatter panel.

    Exactness (the q_corr_matrix discipline, stats.py): cents are
    exact ints, per-group integer floor means center the moments so
    n·variance-scale sums stay in int64, and slope/intercept/R² are
    mirrored IEEE chains over correctly-rounded BIGINT→DOUBLE hops.

    Scale shape: tiny group-means aggregate broadcast back, then ONE
    partial-aggregated moment pass grouped by flag — adding groups
    widens the shuffle key, never adds passes. No SinglePartition."""
    li = read_table(spark, sf_dir, "lineitem")
    c = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    sx_, sy_, n_ = F.sum("x"), F.sum("y"), F.count(F.lit(1))
    m = c.groupBy("grp").agg(
        ((sx_ - F.pmod(sx_, n_)) / n_).cast("bigint").alias("mx"),
        ((sy_ - F.pmod(sy_, n_)) / n_).cast("bigint").alias("my"),
    )
    j = c.join(F.broadcast(m), "grp")
    cx, cy = F.col("x") - F.col("mx"), F.col("y") - F.col("my")
    moms = j.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(cx * cy).cast("bigint").cast("double").alias("sxy"),
        F.sum(cx * cx).cast("bigint").cast("double").alias("sxx"),
        F.sum(cy * cy).cast("bigint").cast("double").alias("syy"),
        F.sum(cx).cast("bigint").cast("double").alias("sx"),
        F.sum(cy).cast("bigint").cast("double").alias("sy"),
    )
    n, sxy, sxx = F.col("n"), F.col("sxy"), F.col("sxx")
    syy, sx, sy = F.col("syy"), F.col("sx"), F.col("sy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return moms.select(
        F.col("grp").alias("returnflag"),
        F.col("n_rows").alias("n"),
        slope.alias("slope"),
        (sy / n - slope * (sx / n)).alias("intercept_centered"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    ).orderBy("returnflag")


@query(
    "q_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             CAST(SUM(ROUND(o.o_totalprice * 100)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY nationkey
                                ORDER BY cents, o_custkey) AS i
      FROM rev
    ), agg AS (
      SELECT nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(SUM(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS s_ix
      FROM ranked GROUP BY nationkey
    )
    SELECT nationkey, n, total_cents,
           CAST(CAST(2 * s_ix - (CAST(n AS HUGEINT) + 1) * total_cents
                 AS BIGINT) AS DOUBLE)
             / CAST(CAST(CAST(n AS HUGEINT) * total_cents AS BIGINT)
                 AS DOUBLE) AS gini
    FROM agg ORDER BY nationkey
    """,
)
def q_gini_concentration(spark, sf_dir):
    """GINI CONCENTRATION of customer revenue per nation: G =
    (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over revenues sorted ascending —
    the inequality audit behind "top 1% of customers drive X%" and
    the skew early-warning for partitioning keys.

    The global rank i is built WITHOUT a total-order sort: revenues
    band by cents >> 20 (fixed $10.5k bands), per-(nation, band)
    counts roll into cumulative offsets via a band-grain window
    (bounded rows — thousands, not customers), and each customer's
    rank is its band offset plus its within-band row_number. The
    two-phase trick q_shard_assign / the watermark audit use, applied
    to ranking; windows partition by nation(/band) so nothing is
    SinglePartition at any corpus size. Rank-weighted sums accumulate
    in decimal(38,0) (int64 overflows near 10⁹ customers); the final
    Gini is a mirrored IEEE chain over exact integers."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    rev = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("bigint")
            .alias("cents")
        )
        .withColumn("band", F.shiftright(F.col("cents"), _BAND_SHIFT))
    )
    # Phase 1: band-grain counts → cumulative offsets (rows are
    # bounded: one per non-empty (nation, band)).
    bands = rev.groupBy("nationkey", "band").agg(
        F.count(F.lit(1)).alias("band_n")
    )
    wb = (
        Window.partitionBy("nationkey")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = bands.select(
        "nationkey",
        "band",
        (F.sum("band_n").over(wb) - F.col("band_n")).alias("offset"),
    )
    # Phase 2: within-band rank + band offset = exact global rank.
    ww = Window.partitionBy("nationkey", "band").orderBy("cents", "custkey")
    ranked = (
        rev.join(offsets, ["nationkey", "band"])
        .withColumn("i", F.col("offset") + F.row_number().over(ww))
    )
    agg = ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("cents")
        ).alias("s_ix"),
    )
    two_six = F.lit(2).cast("decimal(38,0)") * F.col("s_ix")
    np1_t = (
        (F.col("n").cast("decimal(38,0)") + 1)
        * F.col("total_cents").cast("decimal(38,0)")
    )
    n_t = (
        F.col("n").cast("decimal(38,0)")
        * F.col("total_cents").cast("decimal(38,0)")
    )
    return agg.select(
        "nationkey",
        "n",
        "total_cents",
        (
            (two_six - np1_t).cast("bigint").cast("double")
            / n_t.cast("bigint").cast("double")
        ).alias("gini"),
    ).orderBy("nationkey")


# SURVEY.md §2.4 / LLM-pipeline feature prep: TARGET ENCODING (smoothed
# category→mean replacement, the standard high-cardinality categorical
# feature for tabular training sets) and the CATEGORICAL ASSOCIATION
# TABLE (per-cell PMI/lift between two discrete columns — the
# exact-count decomposition of mutual information, the profiler's "are
# these columns related?" panel for non-numerics, complementing
# q_type_weekday_chisq's χ²).
#
# Exactness: counts and cents are exact integers; lift is a mirrored
# IEEE ratio; PMI's ln is rounded to 6 places PER ROW (the q_dq_benford
# precedent — cross-engine libm agrees through 6 decimals, and no
# rounded floats are ever summed, which would re-introduce order
# dependence).


# Smoothing pseudo-count: the encoding of a category with n samples
# blends n:_M between its own mean and the global mean (Micci-Barreca
# 2001, the standard smoothed target encoder).
_M = 20


@query(
    "q_target_encoding",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(cents) AS BIGINT) AS sum_all
      FROM j
    )
    SELECT j.segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(j.cents) AS BIGINT) AS sum_cents,
           CAST(SUM(j.cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS raw_mean_cents,
           (CAST(SUM(j.cents) AS DOUBLE)
            + {_M}.0 * (CAST(MIN(g.sum_all) AS DOUBLE)
                        / CAST(MIN(g.n_all) AS DOUBLE)))
           / (CAST(COUNT(*) AS DOUBLE) + {_M}.0) AS encoded_cents
    FROM j, g
    GROUP BY j.segment
    ORDER BY j.segment
    """,
)
def q_target_encoding(spark, sf_dir):
    """SMOOTHED TARGET ENCODING of market segment against order value:
    enc(c) = (Σ_c y + m·μ_global) / (n_c + m) with m=20 — the encoder
    that replaces a categorical column with a leakage-damped target
    mean when building tabular training features. Emits n, the raw
    category mean, and the smoothed encoding per segment.

    Scale shape: one partial-aggregated groupBy at category grain plus
    a broadcast 1-row global aggregate — the encoder fits any
    cardinality because the output is category-grain, and applying it
    back to rows is a broadcast join. Exact integer cents end to end;
    the blend is a mirrored IEEE chain."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    j = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("cents").cast("bigint").alias("sum_all"),
    )
    per = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    jj = per.crossJoin(F.broadcast(g))
    mu_g = F.col("sum_all").cast("double") / F.col("n_all").cast("double")
    return jj.select(
        "segment",
        "n",
        "sum_cents",
        (F.col("sum_cents").cast("double") / F.col("n").cast("double")).alias(
            "raw_mean_cents"
        ),
        (
            (F.col("sum_cents").cast("double") + F.lit(float(_M)) * mu_g)
            / (F.col("n").cast("double") + F.lit(float(_M)))
        ).alias("encoded_cents"),
    ).orderBy("segment")


# SURVEY.md §2.4 analytics / §2.11 privacy: DIFFERENCE-IN-DIFFERENCES
# uplift (the 2×2 causal estimator every experimentation platform
# reports when only a natural pre/post split exists) and the L-DIVERSITY
# audit (the sensitive-attribute companion to q_k_anonymity — a
# k-anonymous group is still unsafe if everyone in it shares the
# sensitive value).
#
# Exactness: all four DiD cell means are exact-integer-cents sums over
# exact counts with mirrored IEEE divisions; l-diversity is pure
# integer counting on the same QI grain q_k_anonymity audits.


@query(
    "q_did_uplift",
    oracle="""
    WITH j AS (
      SELECT (c.c_mktsegment = 'BUILDING') AS treated,
             (o.o_orderdate >= TIMESTAMP '1998-01-01') AS post,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_cents
      FROM j GROUP BY 1, 2
    ), wide AS (
      SELECT
        MAX(CASE WHEN treated AND post THEN mean_cents END) AS t_post,
        MAX(CASE WHEN treated AND NOT post THEN mean_cents END) AS t_pre,
        MAX(CASE WHEN NOT treated AND post THEN mean_cents END) AS c_post,
        MAX(CASE WHEN NOT treated AND NOT post THEN mean_cents END)
          AS c_pre,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total, t_pre, t_post, c_pre, c_post,
           (t_post - t_pre) AS treated_delta,
           (c_post - c_pre) AS control_delta,
           ((t_post - t_pre) - (c_post - c_pre)) AS did_cents
    FROM wide
    """,
)
def q_did_uplift(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES: did the BUILDING segment's average
    order value move differently across the 1998 boundary than
    everyone else's? DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post −
    ȳ_C,pre) — the parallel-trends estimator an experimentation
    platform falls back to when treatment wasn't randomized (a
    segment-targeted promo, a regional rollout).

    Scale shape: ONE partial-aggregated 2×2 cell aggregate over the
    fact⋈broadcast-dim join, pivoted to a single row by conditional
    MAX over four cells — no window, no second pass. Cell means are
    exact-integer cents / exact counts; every subtraction is a
    mirrored IEEE chain."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    j = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        (F.col("o_orderdate") >= F.lit("1998-01-01")).alias("post"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cells = j.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    ).withColumn(
        "mean_cents",
        F.col("sum_cents").cast("double") / F.col("n").cast("double"),
    )

    def cell(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("mean_cents"),
            )
        )

    wide = cells.agg(
        cell(True, True).alias("t_post"),
        cell(True, False).alias("t_pre"),
        cell(False, True).alias("c_post"),
        cell(False, False).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "n_total",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        (F.col("t_post") - F.col("t_pre")).alias("treated_delta"),
        (F.col("c_post") - F.col("c_pre")).alias("control_delta"),
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did_cents"),
    )


# SURVEY.md §2.4 ML-eval / graph: exact ROC-AUC (tie-corrected
# Mann-Whitney, computed at value grain with NO global sort — the
# classifier-quality gate a training pipeline runs on every scored
# snapshot) and SYNCHRONOUS LABEL PROPAGATION (3 rounds of min-label
# community detection on the co-order part graph — the clustering
# coarser and faster than connected components when only a bounded
# number of rounds is affordable).
#
# Exactness: AUC's U statistic accumulates in HALF-UNITS (×2 so tie
# midpoints stay integral) — the verdict is exact integer arithmetic
# with one final mirrored IEEE division; label propagation is pure
# integer min over a fixed unrolled round count, identical in both
# engines by induction.


# Value-band width for the two-phase prefix sum over score grain.
_AUC_SHIFT = 20


@query(
    "q_roc_auc",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score,
             (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS pos
      FROM orders
    ), v AS (
      SELECT score,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
      FROM s GROUP BY 1
    ), c AS (
      SELECT score, np, nn,
             SUM(nn) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) - nn AS neg_below
      FROM v
    ), agg AS (
      SELECT CAST(SUM(np * (2 * neg_below + nn)) AS BIGINT) AS u2,
             CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(nn) AS BIGINT) AS n_neg
      FROM c
    )
    SELECT n_pos, n_neg, u2,
           CAST(u2 AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
    FROM agg
    """,
)
def q_roc_auc(spark, sf_dir):
    """EXACT ROC-AUC of "does order value predict urgent/high
    priority": the tie-corrected Mann-Whitney statistic AUC =
    Σ_v np_v·(neg_below_v + nn_v/2) / (nP·nN), accumulated in
    half-units (u2 = 2U stays integral through tie midpoints) — the
    eval gate for any scored binary label, computed exactly rather
    than from a sampled curve.

    Scale shape: collapse to VALUE GRAIN first (one partial-aggregated
    groupBy — |values| ≤ |rows|, usually ≪), then the negatives-below
    prefix sum runs TWO-PHASE over value bands (superband offsets +
    narrow in-band window, the q_ks_drift / q_gini_concentration
    pattern) — no global-order sort of anything row-grain, no
    SinglePartition on the data path. The oracle keeps the plain
    single-window formulation."""
    orders = read_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("score"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .alias("pos"),
    )
    v = s.groupBy("score").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1))
        .cast("bigint")
        .alias("nn"),
    ).withColumn("band", F.shiftright(F.col("score"), _AUC_SHIFT))
    bands = v.groupBy("band").agg(F.sum("nn").alias("bn"))
    wb = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = bands.select(
        "band", (F.sum("bn").over(wb) - F.col("bn")).alias("off")
    )
    ww = (
        Window.partitionBy("band")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.join(offsets, "band").select(
        "np",
        "nn",
        (F.col("off") + F.sum("nn").over(ww) - F.col("nn")).alias(
            "neg_below"
        ),
    )
    agg = c.agg(
        F.sum(F.col("np") * (2 * F.col("neg_below") + F.col("nn")))
        .cast("bigint")
        .alias("u2"),
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            )
        ).alias("auc"),
    )


# SURVEY.md §2.4 analytics: HERFINDAHL-HIRSCHMAN CONCENTRATION
# (supplier-revenue HHI per nation — the antitrust / vendor-risk metric
# that complements q_gini_concentration's inequality view WITHOUT
# needing ranks: HHI is a pure sum of squared shares) and
# NEW-VS-RETURNING decomposition (each month's orders split by whether
# the customer is ordering for the first time — the growth panel every
# revenue dashboard opens with).
#
# Exactness: HHI is Σs²/T² over exact integer cents (squares accumulate
# in DECIMAL(38,0)/HUGEINT; the final ratio is one mirrored IEEE
# chain); new-vs-returning is pure integer counting off a min-date
# aggregate.


@query(
    "q_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             CAST(SUM(ROUND(l.l_extendedprice)) AS BIGINT) AS dollars
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ), agg AS (
      SELECT nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(dollars) AS BIGINT) AS total_dollars,
             SUM(CAST(dollars AS HUGEINT) * dollars) AS sum_sq
      FROM rev GROUP BY 1
    )
    SELECT nationkey, n_suppliers, total_dollars,
           CAST(CAST(sum_sq AS BIGINT) AS DOUBLE) * 10000.0
             / (CAST(total_dollars AS DOUBLE)
                * CAST(total_dollars AS DOUBLE)) AS hhi
    FROM agg ORDER BY nationkey
    """,
)
def q_hhi_concentration(spark, sf_dir):
    """HHI per nation over supplier revenue shares: HHI =
    10000·Σsᵢ²/T² (0–10000 scale; >2500 = highly concentrated) — the
    vendor-concentration risk gate. Rank-free by construction, so
    unlike Gini it needs NO ordering machinery: one supplier-grain
    aggregate, one nation-grain rollup.

    Exactness: revenue in integer DOLLARS (squares of cents overflow
    the 2^53 double fence at sf0.1; dollars keep Σs² correctly
    rounded through the BIGINT hop — the q_autocorrelation unit
    choice), squares summed in DECIMAL(38,0) (DuckDB HUGEINT), final
    HHI one mirrored IEEE chain.

    Scale shape: two partial-aggregated groupBys (supplier grain →
    nation grain) with the supplier dim broadcast — no window, no
    SinglePartition, adding nations/suppliers widens keys only."""
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    rev = (
        li.join(
            supp.select("s_suppkey", "s_nationkey"),
            li["l_suppkey"] == supp["s_suppkey"],
        )
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey"),
        )
        .agg(
            F.sum(F.round("l_extendedprice")).cast("bigint").alias("dollars")
        )
    )
    agg = rev.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("dollars").cast("bigint").alias("total_dollars"),
        F.sum(
            F.col("dollars").cast("decimal(38,0)") * F.col("dollars")
        ).alias("sum_sq"),
    )
    return agg.select(
        "nationkey",
        "n_suppliers",
        "total_dollars",
        (
            F.col("sum_sq").cast("bigint").cast("double")
            * F.lit(10000.0)
            / (
                F.col("total_dollars").cast("double")
                * F.col("total_dollars").cast("double")
            )
        ).alias("hhi"),
    ).orderBy("nationkey")


# SURVEY.md §2.4 aggregates / §2.9 analytics: WILSON LOWER-BOUND RANKING
# (the small-sample-safe way to rank entities by a proportion — a
# supplier with 3/3 clean lines must NOT outrank one with 980/1000) and
# the LORENZ CURVE (the decile-grain cumulative-share table behind every
# inequality / concentration chart — the curve whose area is the Gini
# q_gini_concentration already reports).
#
# Exactness: successes/trials are exact BIGINTs; Wilson's one formula is
# an identically-written IEEE chain on both engines. Lorenz ranks are
# exact integers from the two-phase banded rank (no global sort); decile
# sums are exact cents; shares are final mirrored divisions.


_TOP = 25


@query(
    "q_wilson_ranking",
    oracle="""
    WITH s AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS kept
      FROM lineitem GROUP BY 1
    ), w AS (
      SELECT l_suppkey, n_lines, kept,
             CAST(kept AS DOUBLE) / CAST(n_lines AS DOUBLE) AS phat,
             ((CAST(kept AS DOUBLE) / CAST(n_lines AS DOUBLE))
              + (1.96 * 1.96) / (2 * CAST(n_lines AS DOUBLE))
              - 1.96 * SQRT(((CAST(kept AS DOUBLE) / CAST(n_lines AS DOUBLE))
                             * (1 - CAST(kept AS DOUBLE) / CAST(n_lines AS DOUBLE))
                             + (1.96 * 1.96) / (4 * CAST(n_lines AS DOUBLE)))
                            / CAST(n_lines AS DOUBLE)))
             / (1 + (1.96 * 1.96) / CAST(n_lines AS DOUBLE)) AS wilson_lb
      FROM s
    )
    SELECT w.l_suppkey AS suppkey, sup.s_name, w.n_lines, w.kept,
           w.phat, w.wilson_lb
    FROM w JOIN supplier sup ON w.l_suppkey = sup.s_suppkey
    ORDER BY w.wilson_lb DESC, w.l_suppkey LIMIT 25
    """,
)
def q_wilson_ranking(spark, sf_dir):
    """WILSON 95% LOWER-BOUND RANKING of suppliers by clean-line
    proportion (lines not returned): lb = (p̂ + z²/2n − z·√((p̂(1−p̂) +
    z²/4n)/n)) / (1 + z²/n), z = 1.96 — the ranking rule (Wilson 1927;
    the "How Not To Sort By Average Rating" fix) that discounts
    small-sample perfection instead of letting 3/3 beat 980/1000.

    Scale shape: one supplier-grain partial aggregate over the fact
    table (exact integer successes/trials), the formula as a pure
    column expression, broadcast dim join for the name, and a top-25
    TakeOrderedAndProject with a unique tie-break. The z=1.96 chain is
    written token-for-token the same in both engines so constant
    folding yields bit-identical doubles."""
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    s = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
        .cast("bigint")
        .alias("kept"),
    )
    nd = F.col("n_lines").cast("double")
    phat = F.col("kept").cast("double") / nd
    z = F.lit(1.96)
    z2 = z * z
    lb = (
        phat + z2 / (2 * nd) - z * F.sqrt((phat * (1 - phat) + z2 / (4 * nd)) / nd)
    ) / (1 + z2 / nd)
    return (
        s.withColumn("phat", phat)
        .withColumn("wilson_lb", lb)
        .join(sup, F.col("suppkey") == F.col("s_suppkey"))
        .select("suppkey", "s_name", "n_lines", "kept", "phat", "wilson_lb")
        .orderBy(F.col("wilson_lb").desc(), "suppkey")
        .limit(_TOP)
    )


@query(
    "q_lorenz_curve",
    oracle="""
    WITH rev AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT custkey, cents,
             ROW_NUMBER() OVER (ORDER BY cents, custkey) AS i,
             COUNT(*) OVER () AS n
      FROM rev
    ), dec AS (
      SELECT CAST(((i - 1) * 10) // n + 1 AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS decile_cents
      FROM ranked GROUP BY 1
    )
    SELECT decile, n_customers, decile_cents,
           CAST(SUM(decile_cents) OVER w AS BIGINT) AS cum_cents,
           CAST(SUM(n_customers) OVER w AS DOUBLE)
             / CAST(SUM(n_customers) OVER () AS DOUBLE) AS cum_pop_share,
           CAST(SUM(decile_cents) OVER w AS DOUBLE)
             / CAST(SUM(decile_cents) OVER () AS DOUBLE) AS cum_rev_share
    FROM dec
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY decile
    """,
)
def q_lorenz_curve(spark, sf_dir):
    """LORENZ CURVE: customers sorted by lifetime revenue, split into
    population deciles, each row carrying the cumulative population
    and revenue shares — the 10-point curve behind "the bottom 50% of
    customers contribute 8% of revenue" (its enclosed area is the Gini
    q_gini_concentration reports; q_pareto_8020 is one point of it).

    Scale shape: customer-grain exact-cents aggregate, then the exact
    global rank WITHOUT a total-order sort — the q_gini two-phase
    banded rank (cents >> 20 band counts → band-grain cumulative
    offsets over BOUNDED band rows, + within-band row_number
    partitioned by band). Deciles come from pure integer math on
    (rank, n); the final cumulative window runs over exactly 10 rows.
    The band-offset frame KEEPS its broadcast hint: bands are value-
    domain grain (customer lifetime cents >> _BAND_SHIFT) and the spend
    distribution is SF-invariant, so the band count saturates at the
    fixed spend range rather than growing with the corpus — audited in
    tools/broadcast_census.py::BOUNDED_BUILD with decade evidence.
    Oracle keeps the plain ROW_NUMBER formulation."""
    orders = read_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    ).withColumn("band", F.shiftright(F.col("cents"), _BAND_SHIFT))
    # Phase 1: band-grain counts -> cumulative offsets (bounded rows).
    bands = rev.groupBy("band").agg(F.count(F.lit(1)).alias("band_n"))
    wb = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = bands.select(
        "band",
        (F.sum("band_n").over(wb) - F.col("band_n")).alias("offset"),
        F.sum("band_n").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    # Phase 2: exact global rank = band offset + within-band row_number.
    ww = Window.partitionBy("band").orderBy("cents", "custkey")
    ranked = rev.join(F.broadcast(offsets), "band").withColumn(
        "i", F.col("offset") + F.row_number().over(ww)
    )
    dec = ranked.groupBy(
        (F.expr("((i - 1) * 10) div n").cast("bigint") + 1).alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        dec.select(
            "decile",
            "n_customers",
            "decile_cents",
            F.sum("decile_cents").over(wc).cast("bigint").alias("cum_cents"),
            (
                F.sum("n_customers").over(wc).cast("double")
                / F.sum("n_customers").over(wall).cast("double")
            ).alias("cum_pop_share"),
            (
                F.sum("decile_cents").over(wc).cast("double")
                / F.sum("decile_cents").over(wall).cast("double")
            ).alias("cum_rev_share"),
        )
        .orderBy("decile")
    )


# Feature-hashing audit: D = 256 buckets from the first two md5 hex
# digits, parsed with position-in-alphabet arithmetic so both engines
# compute the identical bucket id without any engine-native hash.
_HEXABC = "0123456789abcdef"


@query(
    "q_feature_hash_audit",
    oracle=f"""
    WITH crossed AS (
      SELECT p.p_brand || '|' || l.l_returnflag || '|' || l.l_linestatus
               AS feature,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ), hashed AS (
      SELECT feature, n_rows,
             (STRPOS('{_HEXABC}',
                     SUBSTRING(MD5(feature), 1, 1)) - 1) * 16
             + (STRPOS('{_HEXABC}',
                       SUBSTRING(MD5(feature), 2, 1)) - 1) AS bucket
      FROM crossed
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           STRING_AGG(feature, ',' ORDER BY feature) AS features
    FROM hashed
    GROUP BY bucket HAVING COUNT(*) > 1
    ORDER BY bucket
    """,
)
def q_feature_hash_audit(spark, sf_dir):
    """FEATURE-HASHING COLLISION AUDIT: the brand × returnflag ×
    linestatus cross (≈150 raw features) hashed into D=256 buckets
    (hashing trick, Weinberger et al. 2009), reporting every bucket
    where two or more DISTINCT raw crosses collide — the identity a
    hashed model silently merges. The audit a feature pipeline runs
    to size D before training.

    Scale shape: the cross collapses to the FEATURE grain first (one
    partial-aggregated pass over the fact ⋈ broadcast dim join), so
    hashing and the collision groupBy run on ~500 rows no matter the
    corpus size. The bucket id is the first two md5 hex digits parsed
    via position-in-alphabet arithmetic — portable, engine-identical,
    and the exact rule q_sample_hash's thresholds use. The colliding
    feature list is deterministic (sorted listagg)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_linestatus"
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    crossed = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.concat_ws(
                "|", "p_brand", "l_returnflag", "l_linestatus"
            ).alias("feature")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    bucket = F.expr(
        f"CAST((instr('{_HEXABC}', substring(md5(feature), 1, 1)) - 1) * 16"
        f" + (instr('{_HEXABC}', substring(md5(feature), 2, 1)) - 1)"
        " AS BIGINT)"
    )
    hashed = crossed.withColumn("bucket", bucket)
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.array_join(F.array_sort(F.collect_list("feature")), ",").alias(
                "features"
            ),
        )
        .where(F.col("n_features") > 1)
        .orderBy("bucket")
    )


# SURVEY.md §2.10 ML prep / §2.11 DQ: FEATURE SCREEN (per-column NDV /
# top-value-share verdicts — constant-like, id-like, ok — the
# caret::nearZeroVar-style preflight that drops useless columns before
# encoding) and the DOUBLE-PAYMENT SUSPECT QUEUE (same-customer orders
# within ±7 days ranked by exact amount delta — the classic fintech
# duplicate-transaction triage, a structured-data dedup op next to the
# text dedup family).
#
# Exactness: all verdicts are integer cross-multiplications; pair
# deltas are exact integer cents/days.


# Screened columns (orders table) — heterogeneous cardinality on
# purpose: status (3 values), priority (5), totalprice (~unique
# doubles -> id_like), custkey (~n/10), orderkey (unique).
_SCREEN_COLS = (
    "o_orderstatus",
    "o_orderpriority",
    "o_totalprice",
    "o_custkey",
    "o_orderkey",
)


def _screen_oracle() -> str:
    branches = []
    for c in _SCREEN_COLS:
        branches.append(
            f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
           CAST(MAX(vc) AS BIGINT) AS top_value_rows,
           CASE WHEN 10 * MAX(vc) > 9 * COUNT(*) THEN 'constant_like'
                WHEN 10 * COUNT(DISTINCT {c}) > 9 * COUNT(*) THEN 'id_like'
                ELSE 'ok' END AS verdict
    FROM (
      SELECT {c}, COUNT(*) OVER (PARTITION BY {c}) AS vc FROM orders
    )"""
        )
    return " UNION ALL ".join(branches) + " ORDER BY column_name"


@query("q_feature_screen", oracle=_screen_oracle())
def q_feature_screen(spark, sf_dir):
    """FEATURE SCREEN: for each candidate column, row count, NDV, and
    the heaviest single value's row count, with an exact-integer
    verdict — `constant_like` when the top value covers >90% of rows
    (near-zero variance: the column carries almost no signal),
    `id_like` when NDV >90% of rows (a key in disguise: encoding it
    memorizes rows), else `ok`. The preflight an ML feature pipeline
    runs before one-hot/target encoding, complementing
    q_profile_topk_values (which lists values, not verdicts) and
    q_feature_hash_audit (which sizes the hash space of the
    survivors).

    Scale shape: one value-grain count + one scalar collapse per
    column (columns widen the union, not the data path); thresholds
    are 10·x > 9·n integer cross-multiplications, so verdicts are
    engine-exact."""
    o = read_table(spark, sf_dir, "orders")
    outs = []
    for c in _SCREEN_COLS:
        vc = o.groupBy(c).agg(F.count(F.lit(1)).cast("bigint").alias("vc"))
        # NULL convention matches the oracle: n_rows and top_value_rows
        # include the NULL group (COUNT(*) / MAX over all partitions),
        # but ndv is COUNT(DISTINCT c) which EXCLUDES NULLs — counting
        # non-null c at the value grain (one row per distinct value,
        # count(c) skips the NULL group's row) reproduces that exactly.
        stats = vc.agg(
            F.sum("vc").cast("bigint").alias("n_rows"),
            F.count(F.col(c)).cast("bigint").alias("ndv"),
            F.max("vc").cast("bigint").alias("top_value_rows"),
        )
        outs.append(
            stats.select(
                F.lit(c).alias("column_name"),
                "n_rows",
                "ndv",
                "top_value_rows",
                F.when(
                    10 * F.col("top_value_rows") > 9 * F.col("n_rows"),
                    "constant_like",
                )
                .when(10 * F.col("ndv") > 9 * F.col("n_rows"), "id_like")
                .otherwise("ok")
                .alias("verdict"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out.orderBy("column_name")
