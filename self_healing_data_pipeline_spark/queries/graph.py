"""Graph queries over the co-order graph (SURVEY.md §2.9).

Basket pairs and rules, k-hop and recursive reach, triangles, PageRank,
label propagation, neighbor Jaccard, item CF and degree distribution, all
built on ``operators/graph.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.graph import (
    CO_PAIR_CTE_SQL,
    co_order_edges,
    co_pairs_from_baskets,
    order_baskets,
)
from self_healing_data_pipeline_spark.operators.graph import (
    CO_PAIR_CTE_SQL as _CO_PAIR_CTE,
)
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_basket_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_co
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_co DESC, part_a, part_b LIMIT 50
    """,
)
def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs bought in the same order,
    ranked by frequency — the 'discover relationships in the data'
    capability the reference's vision assigns to the engine
    (README.md:21).

    Round-13 plan rewrite (guide §1.2 step 1, §2.4): the basket-key
    self-join (two exchanges of the line grain plus two sorts) is now
    one partial-aggregated ``collect_list`` shuffle keyed on the order
    followed by a bounded in-array pair explode — the
    ``co_order_pairs`` basket discipline, MULTISET variant: the sorted
    list keeps duplicate (order, part) lines, positional pairs with a
    ``p1 <> p2`` filter are exactly the oracle's ``a.l_partkey <
    b.l_partkey`` pairs (the list is sorted, so a later element is
    value-greater unless equal), and multiplicities multiply as the
    self-join did. Pair volume is still Σ|basket|² (baskets ≤ ~7
    lines), output identical. Top-k via TakeOrderedAndProject with
    full tie-break."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pair_expr = (
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts) - i - 1),"
        " y -> struct(x AS p1, y AS p2))))"
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("parts"))
        .select(F.explode(F.expr(pair_expr)).alias("pr"))
        .where(F.col("pr.p1") != F.col("pr.p2"))
        .groupBy(
            F.col("pr.p1").alias("part_a"),
            F.col("pr.p2").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .orderBy(F.col("n_co").desc(), "part_a", "part_b")
        .limit(50)
    )


@query(
    "q_part_triangles",
    oracle=f"""
    WITH {_CO_PAIR_CTE}, e AS (
      SELECT p1, p2 FROM cop
    ), deg AS (
      SELECT p, COUNT(*) AS d FROM (
        SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e
      ) GROUP BY p
    ), tri AS (
      SELECT COUNT(*) AS t
      FROM e e1
      JOIN e e2 ON e1.p2 = e2.p1
      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CASE WHEN (SELECT SUM(d * (d - 1) / 2) FROM deg) > 0
                THEN 3.0 * (SELECT t FROM tri)
                     / (SELECT SUM(d * (d - 1) / 2) FROM deg)
           END AS clustering
    """,
)
def q_part_triangles(spark, sf_dir):
    """Triangle counting + global clustering coefficient on the part
    CO-OCCURRENCE graph (parts ordered together in >= 2 orders — the
    support filter keeps the graph at the density of real association
    graphs instead of the quadratic co-order blow-up).

    Scale shape: edges are DEGREE-ORIENTED before wedge enumeration —
    each undirected edge points from its lower-(degree, id) endpoint to
    the higher one, so every wedge is generated at its LOWEST-degree
    vertex and the join fan-out per vertex is bounded by oriented
    out-degree (O(sqrt(m)) on skewed graphs, the classic
    compact-forward bound) instead of raw degree — the difference
    between a hub node emitting deg^2 wedges and sqrt-bounded work at
    100 TB. The closing-edge probe is a join back on the SAME oriented
    edge list (orientation order makes each triangle counted exactly
    once); the oracle counts the identical triangles from the plain
    a<b<c formulation. Wedge mass and the 3T/W clustering ratio are
    exact integers with one final IEEE division."""
    li = read_table(spark, sf_dir, "lineitem")
    # Materialize the edge list ONCE (round 11, the q_pagerank/
    # q_khop_reach lineage-truncation convention): the comment below
    # used to claim ReuseExchange would dedup e's recurring aggregate,
    # but the measured plan showed ZERO reused exchanges and 72
    # parquet scans — AQE re-optimizes each subtree independently, so
    # identical subtrees stop canonicalizing equal. One eager
    # localCheckpoint of e (and of the oriented edge list below, read
    # by both the wedge and the closing-probe sides) replaces repeated
    # lineitem self-joins with reads of a materialized edge relation —
    # exactly what a cluster job would persist at this stage.
    e = co_order_edges(li).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("p1").alias("p"))
        .unionAll(e.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("p").alias("p1"), F.col("d").alias("deg1")), "p1"
    ).join(deg.select(F.col("p").alias("p2"), F.col("d").alias("deg2")), "p2")
    lo_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
    )
    oe = ed.select(
        F.when(lo_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(lo_first, F.col("deg2")).otherwise(F.col("deg1")).alias("dd"),
        F.when(lo_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ).localCheckpoint(eager=True)
    # Wedges at the oriented source: pairs of out-neighbours ordered by
    # the orientation key, so the closing edge is probed in its stored
    # direction and each triangle is counted exactly once.
    o2 = oe.select(
        F.col("src").alias("src2"), F.col("dd").alias("dd2"), F.col("dst").alias("dst2")
    )
    wedges = oe.join(o2, oe.src == o2.src2).where(
        (F.col("dd") < F.col("dd2"))
        | ((F.col("dd") == F.col("dd2")) & (F.col("dst") < F.col("dst2")))
    )
    closing = oe.select(F.col("src").alias("cu"), F.col("dst").alias("cv"))
    tri = wedges.join(
        closing, (wedges.dst == closing.cu) & (wedges.dst2 == closing.cv), "left_semi"
    ).agg(F.count(F.lit(1)).alias("t"))
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").cast("bigint").alias("n_triangles"),
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("t") / F.col("n_wedges"),
            ).alias("clustering"),
        )
    )


@query(
    "q_khop_reach",
    oracle=f"""
    WITH {_CO_PAIR_CTE}, e AS (
      SELECT p1, p2 FROM cop
    ), adj AS (
      SELECT p1 AS s, p2 AS d FROM e UNION ALL SELECT p2, p1 FROM e
    ), seeds AS (
      SELECT DISTINCT s AS p FROM adj WHERE s % 100 = 0
    ), v1 AS (
      SELECT d AS p FROM adj JOIN seeds ON adj.s = seeds.p
      UNION SELECT p FROM seeds
    ), v2 AS (
      SELECT d AS p FROM adj JOIN v1 ON adj.s = v1.p
      UNION SELECT p FROM v1
    ), v3 AS (
      SELECT d AS p FROM adj JOIN v2 ON adj.s = v2.p
      UNION SELECT p FROM v2
    )
    SELECT k, n_reached FROM (
      SELECT CAST(1 AS INT) AS k, CAST((SELECT COUNT(*) FROM v1
        WHERE p NOT IN (SELECT p FROM seeds)) AS BIGINT) AS n_reached
      UNION ALL
      SELECT CAST(2 AS INT), CAST((SELECT COUNT(*) FROM v2
        WHERE p NOT IN (SELECT p FROM seeds)) AS BIGINT)
      UNION ALL
      SELECT CAST(3 AS INT), CAST((SELECT COUNT(*) FROM v3
        WHERE p NOT IN (SELECT p FROM seeds)) AS BIGINT)
    ) ORDER BY k
    """,
)
def q_khop_reach(spark, sf_dir):
    """Bounded k-hop reach (BFS frontier expansion) from a fixed seed
    set on the support-filtered part co-occurrence graph: how many
    distinct parts are within 1, 2, 3 hops of the seed parts — the
    iterative graph-traversal pattern (recommendation radius, blast-
    radius/impact analysis) expressed as per-hop frontier joins.

    Scale shape: each hop is ONE equi-join of the visited set against
    the adjacency list followed by a DISTINCT — the dedup per hop is
    what keeps expansion bounded by |V| instead of walks (exponential).
    Visited sets only ever carry node ids. The oracle unrolls the same
    three hops as chained CTEs.

    Lineage truncation (round 11): iterative frontier loops grow the
    logical plan multiplicatively — hop k's visited embeds k copies of
    the edge-build lineage, and the per-hop outputs re-execute each
    other's prefixes (measured: 224 parquet scans / 524 exchanges /
    ZERO reused in one q_khop_reach action). ``localCheckpoint`` after
    the edge build and after each hop's dedup is the standard
    iterative-plan discipline (what GraphX/MLlib checkpointing exists
    for): the adjacency is computed ONCE, each hop's visited set
    materializes once at id grain, and every downstream consumer reads
    the truncated plan — on a 1000-executor cluster this is the
    difference between one shuffle per hop and re-running the lineitem
    self-join per hop per output."""
    li = read_table(spark, sf_dir, "lineitem")
    e = co_order_edges(li)
    adj = (
        e.select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .unionAll(e.select(F.col("p2").alias("s"), F.col("p1").alias("d")))
        .localCheckpoint(eager=True)
    )
    seeds = (
        adj.select(F.col("s").alias("p"))
        .where(F.col("p") % 100 == 0)
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = seeds
    outs = []
    for k in (1, 2, 3):
        frontier = (
            visited.join(adj, visited.p == adj.s).select(F.col("d").alias("p"))
        )
        visited = visited.unionAll(frontier).distinct().localCheckpoint(
            eager=True
        )
        reached = visited.join(seeds, "p", "left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached")
        )
        outs.append(reached.select(F.lit(k).cast("int").alias("k"), "n_reached"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


@query(
    "q_basket_rules",
    oracle=f"""
    WITH {_CO_PAIR_CTE}, n_orders AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM pp
    ), item AS (
      SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS np
      FROM pp GROUP BY 1
    ), rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, w AS nab FROM cop
      UNION ALL
      SELECT p2, p1, w FROM cop
    )
    SELECT r.antecedent, r.consequent, r.nab AS n_both,
           ia.np AS n_ante, ic.np AS n_cons,
           CAST(r.nab AS DOUBLE) / CAST(ia.np AS DOUBLE) AS confidence,
           CAST(r.nab * (SELECT nb FROM n_orders) AS DOUBLE)
             / CAST(ia.np * ic.np AS DOUBLE) AS lift
    FROM rules r
    JOIN item ia ON r.antecedent = ia.p
    JOIN item ic ON r.consequent = ic.p
    ORDER BY confidence DESC, lift DESC, r.antecedent, r.consequent
    LIMIT 100
    """,
)
def q_basket_rules(spark, sf_dir):
    """Market-basket ASSOCIATION RULES over co-ordered parts: for each
    directed rule A→B with pair support >= 2 orders, confidence
    P(B|A) and lift P(AB)/(P(A)P(B)) — the Apriori output one level up
    from the existing ``q_basket_pairs`` co-occurrence counts.

    Plan (round-13): the BASKET grain (per-order sorted distinct part
    array, one collect_set shuffle) is materialized ONCE and serves all
    three masses — the basket total is its row count, per-item order
    counts explode it (each part appears once per basket, so this IS
    pp's per-part count), and pairs come from the bounded in-array
    explode (operators.graph.co_pairs_from_baskets) instead of the
    previous within-order self-join. One staging pass where the old
    plan derived the pp distinct three times. All masses exact
    integers; confidence and lift are one IEEE division each (integer
    cross-products as numerator/denominator). Top-100 with a full
    deterministic tie-break chain -> TakeOrdered, no global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    baskets = order_baskets(li).localCheckpoint(eager=True)
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    item = baskets.select(
        F.explode("parts").alias("p")
    ).groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    pair = co_pairs_from_baskets(baskets)
    rules = pair.select(
        F.col("p1").alias("antecedent"), F.col("p2").alias("consequent"),
        F.col("w").alias("nab"),
    ).unionAll(
        pair.select(
            F.col("p2").alias("antecedent"), F.col("p1").alias("consequent"),
            F.col("w").alias("nab"),
        )
    )
    out = (
        rules.join(
            item.select(F.col("p").alias("antecedent"), F.col("np").alias("n_ante")),
            "antecedent",
        )
        .join(
            item.select(F.col("p").alias("consequent"), F.col("np").alias("n_cons")),
            "consequent",
        )
        .crossJoin(F.broadcast(nb))
    )
    return (
        out.select(
            "antecedent",
            "consequent",
            F.col("nab").alias("n_both"),
            "n_ante",
            "n_cons",
            (F.col("nab").cast("double") / F.col("n_ante").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("nab") * F.col("nb")).cast("double")
                / (F.col("n_ante") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
        .orderBy(
            F.col("confidence").desc(),
            F.col("lift").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(100)
    )


# PageRank fixed-point scale: ranks live in units of 1e-9. Chosen so
# the hottest node's incoming mass times 85 stays far under 2^63 even
# at ~1e9 nodes (mass per node is bounded by in-degree * SCALE / 100,
# and real co-occurrence in-degrees are << 1e6; a whole-graph bound of
# N * SCALE * 85 < 2^63 holds to N ~ 1e11 nodes at this scale).
_PR_SCALE = 1_000_000_000
_PR_BASE = (15 * _PR_SCALE) // 100  # teleport mass, exact integer


def _pr_iter_cte(prev: str, cur: str) -> str:
    """One unrolled PageRank iteration as a DuckDB CTE: contributions
    are BIGINT floor divisions rank//degree summed per destination —
    bit-identical to the Spark ``div`` lane."""
    return f"""{cur} AS (
      SELECT g.p AS p,
             CAST({_PR_BASE} + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS r
      FROM deg g LEFT JOIN (
        SELECT a.d AS p, SUM(r.r // g2.dg) AS m
        FROM adj a JOIN {prev} r ON a.s = r.p JOIN deg g2 ON g2.p = a.s
        GROUP BY 1
      ) s ON s.p = g.p
    )"""


@query(
    "q_pagerank",
    oracle=f"""
    WITH {_CO_PAIR_CTE}, e AS (
      SELECT p1, p2 FROM cop
    ), adj AS (
      SELECT p1 AS s, p2 AS d FROM e UNION ALL SELECT p2, p1 FROM e
    ), deg AS (
      SELECT s AS p, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1
    ), r0 AS (
      SELECT p, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg
    ), {_pr_iter_cte('r0', 'r1')}, {_pr_iter_cte('r1', 'r2')},
       {_pr_iter_cte('r2', 'r3')}
    SELECT p AS part, r AS rank_fp FROM r3
    ORDER BY rank_fp DESC, part LIMIT 20
    """,
)
def q_pagerank(spark, sf_dir):
    """PageRank (3 iterations, damping 0.85) over the support-filtered
    part co-occurrence graph — the canonical iterative-graph-analytics
    operator (influence/centrality ranking), expressed Pregel-style as
    per-iteration join + aggregate rounds.

    Determinism: ranks are FIXED-POINT BIGINT (units of 1e-9).
    Per-edge contributions are integer floor divisions ``rank div
    degree`` (Spark ``div`` truncation == DuckDB ``//`` floor on
    non-negative operands), so the per-destination sums are
    order-independent — the property IEEE float addition lacks and the
    reason floating PageRank can't be oracle-checked bit-exact. The
    damping step is ``(85·m) div 100 + base`` in exact integers.

    Scale shape: each iteration is ONE shuffle — ranks join the
    adjacency list on the source key (both sides hash-partitioned on
    node id; on a real cluster the adjacency partitioning is computed
    once and reused across iterations), then contributions reduce
    map-side-partial on the destination key. State per node is 16
    bytes; nothing collects to the driver; iteration count is a
    constant (3), not data-dependent. Degrees are never zero by
    construction (every node in the edge list has an edge), so there
    is no dangling-mass correction term."""
    li = read_table(spark, sf_dir, "lineitem")
    e = co_order_edges(li)
    # Materialize the adjacency ONCE (the union-find convention,
    # operators/dedup.py): without this, each of the 3 iterations
    # re-plans the whole basket-pair build — 4× the most expensive
    # subtree. On a real cluster this is a persisted/checkpointed edge
    # RDD partitioned on the source key, reused by every iteration.
    adj = (
        e.select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .unionAll(e.select(F.col("p2").alias("s"), F.col("p1").alias("d")))
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy(F.col("s").alias("p")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dg")
    ).localCheckpoint(eager=True)
    ranks = deg.select("p", F.lit(_PR_SCALE).cast("bigint").alias("r"))
    for _ in range(3):
        contrib = (
            adj.join(ranks.withColumnRenamed("p", "s"), "s")
            .join(deg.select(F.col("p").alias("s"), "dg"), "s")
            .select(F.col("d").alias("p"), F.expr("r div dg").alias("c"))
        )
        m = contrib.groupBy("p").agg(F.sum("c").alias("m"))
        ranks = deg.select("p").join(m, "p", "left").select(
            "p",
            (
                F.lit(_PR_BASE)
                + F.expr("(85 * coalesce(m, cast(0 as bigint))) div 100")
            ).cast("bigint").alias("r"),
        )
    return (
        ranks.select(F.col("p").alias("part"), F.col("r").alias("rank_fp"))
        .orderBy(F.col("rank_fp").desc(), "part")
        .limit(20)
    )


@query(
    "q_item_cf",
    oracle="""
    WITH grain AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), freq AS (
      SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM grain GROUP BY 1
    ), co AS (
      SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS co
      FROM grain a JOIN grain b ON a.ok = b.ok AND a.pk <> b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ), scored AS (
      SELECT co.part_a, co.part_b, co.co, fa.n AS n_a, fb.n AS n_b,
             CAST(co.co * co.co AS DOUBLE) / CAST(fa.n * fb.n AS DOUBLE)
               AS cf_score
      FROM co
      JOIN freq fa ON co.part_a = fa.pk
      JOIN freq fb ON co.part_b = fb.pk
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY part_a
                 ORDER BY cf_score DESC, co DESC, part_b) AS rk
      FROM scored
    )
    SELECT part_a, part_b, co, n_a, n_b, cf_score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY part_a, rk
    """,
)
def q_item_cf(spark, sf_dir):
    """Item-item COLLABORATIVE FILTERING neighbors: for every part,
    the top-3 most-similar parts by squared co-purchase cosine
    co²/(n_a·n_b) with support >= 3 — the "customers who bought this
    also bought" recommender, the undirected-similarity complement of
    q_basket_rules' directed confidence/lift rules.

    Determinism: similarity is ONE IEEE division of exact integer
    cross-products (identical operands → identical double on both
    engines); the per-part rank carries a total tie-break chain
    (score desc, co desc, neighbor id). Squared cosine preserves the
    cosine ORDER while avoiding engine-varying sqrt-last-ulp risk.

    Scale shape (round-13, the co_order_pairs basket discipline): the
    per-order distinct part BASKET is staged once (one collect_set
    shuffle — the in-group DISTINCT the old checkpointed grain
    expressed as a distinct exchange), co-purchase pairs come from a
    bounded in-array explode of BOTH directions (the old within-order
    self-join's two extra exchanges are gone; pair volume is still the
    q_basket_pairs Σ|basket|² bound, baskets ≤ ~7 parts), and the part
    frequencies explode the same staged baskets. Frequencies join back
    via the (part) key — dim-sized, broadcastable; the final rank
    window partitions by part_a. No global sort, no SinglePartition
    stage."""
    li = read_table(spark, sf_dir, "lineitem")
    from self_healing_data_pipeline_spark.operators.graph import (
        order_baskets,
    )

    baskets = order_baskets(li).localCheckpoint(eager=True)
    freq = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # both directed pairs per basket: x paired with every OTHER member
    pair_expr = (
        "flatten(transform(parts, x ->"
        " transform(filter(parts, y -> y != x),"
        " y -> struct(x AS part_a, y AS part_b))))"
    )
    co = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("pr"))
        .groupBy(
            F.col("pr.part_a").alias("part_a"),
            F.col("pr.part_b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= 3)
    )
    scored = (
        co.join(
            freq.select(F.col("pk"), F.col("n").alias("n_a")),
            F.col("part_a") == F.col("pk"),
        )
        .drop("pk")
        .join(
            freq.select(F.col("pk"), F.col("n").alias("n_b")),
            F.col("part_b") == F.col("pk"),
        )
        .drop("pk")
        .withColumn(
            "cf_score",
            (F.col("co") * F.col("co")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("part_a").orderBy(
            F.col("cf_score").desc(), F.col("co").desc(), F.col("part_b")
        )
    )
    return (
        scored.withColumn("rk", rk.cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("part_a", "part_b", "co", "n_a", "n_b", "cf_score", "rk")
        .orderBy("part_a", "rk")
    )


# SURVEY.md §2.9/§2.11: LINK PREDICTION by neighbor-set Jaccard over the
# shared co-occurrence graph (the "which parts will be bought together
# next" recommender-graph op) and an STL-lite SEASONAL DECOMPOSITION of
# daily revenue (trend / weekday-seasonal / residual in exact integer
# millicents).
#
# Both reuse shared machinery: the graph comes from `operators/graph.py`
# (one definition, one oracle CTE — the q_part_triangles contract); the
# decomposition composes the day-grain + calendar-bounded-window
# discipline of q_changepoint_cusum and q_dow_seasonality.


@query(
    "q_graph_neighbor_jaccard",
    oracle=f"""
    WITH {CO_PAIR_CTE_SQL}, adj AS (
      SELECT p1 AS u, p2 AS v FROM cop
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM cop
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1
    ), wedges AS (
      SELECT a.v AS a, b.v AS b, CAST(COUNT(*) AS BIGINT) AS common
      FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
      GROUP BY 1, 2
    ), cand AS (
      SELECT w.a, w.b, w.common FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM cop c
                        WHERE c.p1 = w.a AND c.p2 = w.b)
    ), scored AS (
      SELECT c.a, c.b, c.common, da.d AS deg_a, db.d AS deg_b,
             CAST(c.common AS DOUBLE)
               / CAST(da.d + db.d - c.common AS DOUBLE) AS jaccard
      FROM cand c
      JOIN deg da ON c.a = da.u
      JOIN deg db ON c.b = db.u
    )
    SELECT a, b, common, deg_a, deg_b, jaccard
    FROM scored ORDER BY jaccard DESC, a, b LIMIT 20
    """,
)
def q_graph_neighbor_jaccard(spark, sf_dir):
    """LINK PREDICTION by neighbor-set Jaccard: for part pairs that
    are NOT yet co-purchased edges, |N(a)∩N(b)| / |N(a)∪N(b)| over
    the shared support-filtered co-occurrence graph — the classic
    similarity index that predicts the next edge; top-20 predicted
    links with their common-neighbor evidence.

    Determinism: common counts and degrees are exact integers; the
    score is ONE IEEE division of exact operands (union size by
    inclusion-exclusion, integer add/sub) — identical doubles both
    engines; total (score, a, b) tie-break.

    Scale shape: wedges enumerate at their center (volume Σ deg(c)² —
    support-filtering already caps it; the production knob is a hub
    cap on wedge centers, standard in link prediction); existing edges
    drop via LEFT ANTI against the edge list; degrees join back on the
    node key. Same Σ|block|² family as q_part_triangles, measured in
    the same probe."""
    li = read_table(spark, sf_dir, "lineitem")
    # Lineage truncation (round 11 convention, q_part_triangles note):
    # edges is read three times (both adj directions + the anti-join)
    # and adj three more (degrees + both wedge sides); AQE defeats
    # ReuseExchange across these subtrees, so each reference re-ran
    # the lineitem self-join. Materialize both once.
    edges = co_order_edges(li).localCheckpoint(eager=True)
    adj = (
        edges.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = adj.select(F.col("u"), F.col("v").alias("a"))
    b = adj.select(F.col("u").alias("u2"), F.col("v").alias("b"))
    wedges = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    cand = wedges.join(
        edges,
        (wedges["a"] == edges["p1"]) & (wedges["b"] == edges["p2"]),
        "left_anti",
    )
    scored = (
        cand.join(deg.select(F.col("u").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("d").alias("deg_b")), "b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast("double"),
        )
    )
    return (
        scored.select("a", "b", "common", "deg_a", "deg_b", "jaccard")
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


# SURVEY.md §2.1 SQL surface / §2.9 graph: native WITH RECURSIVE support
# — Spark 4 ships SQL-2008 recursive CTEs, and this batch exercises that
# surface end-to-end on a real graph workload (bounded-depth
# reachability over the shared co-occurrence graph), oracle-checked
# against DuckDB evaluating the SAME recursive SQL.
#
# The production form of unbounded reachability remains the manual
# per-hop DISTINCT frontier (q_khop_reach — walk counts explode
# combinatorially without per-level dedup); this query pins the ENGINE
# SURFACE: a user migrating recursive SQL from Postgres/DuckDB can run
# it unchanged.


# Recursion bound for the UNION ALL walk below. The walk has NO
# per-level dedup, so walk volume is Σ deg^depth — depth 2 is safe on
# the co-occurrence graph; anything deeper is combinatorial. Guarded by
# the assert below and by tests/test_recursive_depth_guard.py; if you
# need deeper reach, use q_khop_reach (DISTINCT frontier per hop).
_MAX_DEPTH = 2
assert _MAX_DEPTH <= 2, "undeduplicated recursive walk must stay <= 2 hops"

# The co-occurrence graph build (shared policy text with the other
# co-occurrence consumers): pp → cop → undirected adj.
_GRAPH_CTES = """pp AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM {tbl}
    ), cop AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""

_ADJ_BODY = """SELECT p1 AS u, p2 AS v FROM cop
    UNION ALL
    SELECT p2 AS u, p1 AS v FROM cop"""

_GRAPH_SQL = "WITH " + _GRAPH_CTES + "\n    " + _ADJ_BODY

# The recursion itself, over an adjacency relation {adj}: seeds →
# bounded UNION ALL walk → min-depth rollup. SAME text both engines.
_REACH_SQL = """
    WITH RECURSIVE seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM {adj})
      ORDER BY node LIMIT 3
    ), reach(node, depth) AS (
      SELECT node, 0 FROM seeds
      UNION ALL
      SELECT a.v, r.depth + 1
      FROM reach r JOIN {adj} a ON a.u = r.node
      WHERE r.depth < {max_depth}
    ), md AS (
      SELECT node, MIN(depth) AS d FROM reach GROUP BY node
    )
    SELECT CAST(d AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS node_checksum
    FROM md GROUP BY d ORDER BY depth
"""

# Oracle: the same two texts composed as sibling CTEs in one statement
# (DuckDB materializes non-recursive CTEs once, so the build can stay
# inline there).
_RCTE_ORACLE = (
    "WITH RECURSIVE "
    + _GRAPH_CTES.format(tbl="lineitem")
    + ", adj AS (\n    "
    + _ADJ_BODY
    + "\n    )"
    + _REACH_SQL.format(adj="adj", max_depth=_MAX_DEPTH).replace(
        "WITH RECURSIVE", ","
    )
)


@query("q_recursive_reach", oracle=_RCTE_ORACLE)
def q_recursive_reach(spark, sf_dir):
    """Native WITH RECURSIVE reachability: 2-hop reach from the three
    smallest co-occurrence-graph nodes, written as a SQL-2008
    recursive CTE and executed by Spark 4's recursive-CTE engine —
    the SAME SQL text DuckDB evaluates as the oracle (only the
    relation name differs). Per min-depth: node count + id checksum.

    Why both forms exist: the recursive UNION ALL walk has no
    per-level dedup, so walk volume is Σ deg^depth — fine at the
    depth-2 bound here, combinatorial beyond it; q_khop_reach's
    manual frontier loop with DISTINCT per hop is the 100 TB form.
    This query pins SURFACE PARITY (recursive SQL ports unchanged)
    and the correctness of Spark's recursion against an independent
    engine.

    Scale shape: each recursion level is one keyed join against the
    adjacency (Catalyst plans it like the manual loop); the depth
    bound is in the WHERE, so the loop terminates without a global
    dedup barrier. The GRAPH BUILD is materialized ONCE
    (localCheckpoint, per-invocation — no cross-run cache) before the
    recursion: Spark's recursive-CTE engine re-evaluates the anchor's
    upstream plan at every level, so an inline build re-ran the
    600k-row pp distinct + cop self-join 3× (measured ~7.5 s; the
    build alone is ~2 s) — the checkpoint makes each level join a
    materialized 2·|edges| relation instead (round-10 bench-tail
    trim; results and the single-statement oracle are byte-identical,
    and at 100 TB you would stage the adjacency exactly once too)."""
    from self_healing_data_pipeline_spark.operators.graph import (
        co_order_edges,
    )
    from pyspark.sql import functions as F

    li = read_table(spark, sf_dir, "lineitem")
    # Graph build via the shared basket-form builder (round 13 —
    # co_order_edges is the one Spark definition of the cop CTE, two
    # exchanges and no self-join); the RECURSION below stays the same
    # SQL text both engines evaluate, which is the surface this key
    # pins. _GRAPH_SQL remains the build's SQL statement of record
    # (the oracle composes the identical CTE text).
    e = co_order_edges(li)
    adj = (
        e.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .unionAll(e.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
        .localCheckpoint(eager=True)
    )
    adj.createOrReplaceTempView("adj_rcte")
    return spark.sql(
        _REACH_SQL.format(adj="adj_rcte", max_depth=_MAX_DEPTH)
    )


# Synchronous min-label rounds (unrolled identically in both engines).
_LP_ROUNDS = 3


def _lp_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""l{r} AS (
      SELECT n.node, LEAST(n.label, COALESCE(MIN(m.label), n.label))
               AS label
      FROM {prev} n
      LEFT JOIN adj e ON e.u = n.node
      LEFT JOIN {prev} m ON m.node = e.v
      GROUP BY n.node, n.label
    )"""
        )
        prev = f"l{r}"
    return f"""
    WITH {CO_PAIR_CTE_SQL}, adj AS (
      SELECT p1 AS u, p2 AS v FROM cop
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM cop
    ), nodes AS (
      SELECT DISTINCT u AS node FROM adj
    ), l0 AS (
      SELECT node, node AS label FROM nodes
    ), {", ".join(rounds)}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM {prev}
    GROUP BY label HAVING COUNT(*) >= 3
    ORDER BY n_members DESC, community LIMIT 20
    """


@query("q_label_propagation", oracle=_lp_oracle())
def q_label_propagation(spark, sf_dir):
    """SYNCHRONOUS MIN-LABEL PROPAGATION (3 rounds) on the co-order
    part graph (shared edge contract ``operators/graph.py``): every
    node starts labeled with itself; each round it takes the min of
    its own and its neighbors' labels. After k rounds, a node's label
    is the smallest node id within k hops — a deterministic,
    round-bounded community coarsening (full convergence = connected
    components, which q_dedup_clusters already does with
    pointer-jumping; the fixed-round form is what you run when the
    diameter is unknown and the budget is k passes). Report:
    communities of ≥3 members, top 20 by size.

    Scale shape: each round is ONE keyed equi-join of the label frame
    against the edge list plus a partial-aggregated min — k rounds =
    k joins, unrolled; state is node-grain. No iteration-until-
    convergence driver loop, no window, no SinglePartition.

    Lineage truncation (round 11, the q_pagerank/q_khop_reach
    convention): the label frame is referenced TWICE per round (once
    as the node side, once as the neighbor side), so an un-truncated
    plan doubles per round — 2^k copies of the edge build by round k.
    ``localCheckpoint`` on the adjacency and on each round's labels
    keeps every round one join over materialized node-grain state (at
    cluster scale: a persisted, source-key-partitioned edge relation
    reused across rounds)."""
    li = read_table(spark, sf_dir, "lineitem")
    edges = co_order_edges(li)
    adj = (
        edges.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LP_ROUNDS):
        nbr = (
            labels.join(adj, labels["node"] == adj["u"], "left")
            .join(
                labels.select(
                    F.col("node").alias("vnode"), F.col("label").alias("vlabel")
                ),
                F.col("v") == F.col("vnode"),
                "left",
            )
            .groupBy("node", "label")
            .agg(F.min("vlabel").alias("nbr_min"))
        )
        labels = nbr.select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        ).localCheckpoint(eager=True)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .where(F.col("n_members") >= 3)
        .orderBy(F.col("n_members").desc(), F.col("community"))
        .limit(20)
    )


@query(
    "q_degree_distribution",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), und AS (
      SELECT p1 AS p, p2 AS q FROM pairs
      UNION ALL
      SELECT p2 AS p, p1 AS q FROM pairs
    ), deg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY p
    )
    SELECT CAST(FLOOR(LOG2(degree)) AS BIGINT) AS degree_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree,
           CAST(SUM(degree) AS BIGINT) AS total_edges_x2
    FROM deg GROUP BY 1 ORDER BY degree_bucket
    """,
)
def q_degree_distribution(spark, sf_dir):
    """CO-PURCHASE DEGREE DISTRIBUTION: each part's degree in the
    "bought in the same order" graph, bucketed by floor(log2(degree))
    — the one-page structural summary (is the graph bounded-degree or
    scale-free?) read before running q_part_triangles /
    q_label_propagation / q_pagerank, because a heavy-tail bucket is
    exactly where triangle counting and message passing blow up.

    Scale shape: the pair join is per-order (bounded by basket size,
    the q_basket_pairs bound — never all-pairs across orders);
    distinct edges collapse at the pair grain, degrees at the part
    grain, and the histogram at the log-bucket grain (≤ ~20 rows).
    log2 of an exact integer is deterministic on both engines;
    bucket boundaries are exact because floor(log2(2^k)) is exact in
    IEEE for all representable degrees."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    b = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        li.join(b, (li.l_orderkey == b.ok2) & (li.l_partkey < b.p2))
        .select(F.col("l_partkey").alias("p1"), "p2")
        .distinct()
        # both union directions read the pair set: materialize the
        # basket self-join ONCE (round-11 lineage-truncation convention
        # — AQE defeats ReuseExchange on these duplicate subtrees)
        .localCheckpoint(eager=True)
    )
    und = pairs.select(F.col("p1").alias("p")).unionAll(
        pairs.select(F.col("p2").alias("p"))
    )
    deg = und.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return (
        deg.groupBy(
            F.floor(F.log2("degree")).cast("bigint").alias("degree_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
            F.sum("degree").cast("bigint").alias("total_edges_x2"),
        )
        .orderBy("degree_bucket")
    )
