"""Shared graph builders: the support-filtered part CO-OCCURRENCE
graph over lineitem, used by triangle counting, k-hop and recursive
reach, PageRank, label propagation, neighbor Jaccard, basket
pairs/rules and item CF — one Spark definition and ONE oracle CTE so
the consumers can never count different graphs.

Scale shape (shared by construction): each order's distinct parts are
gathered into one sorted ``collect_set`` basket (a single shuffle keyed
on the order, no join), and pairs are exploded WITHIN that basket only —
pair volume is Σ|basket|², bounded by per-order line counts, never
|parts|² — then the weight-filtered edge list collapses map-side before
any consumer touches it. The DuckDB twin keeps the equivalent
distinct-grain self-join (``CO_PAIR_CTE_SQL``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: DuckDB twin: CTEs `pp` (distinct order-part grain) and `cop`
#: (weighted co-order pairs, support >= 2, p1 < p2). Splice as
#: ``WITH {CO_PAIR_CTE_SQL}, ...``.
CO_PAIR_CTE_SQL = """pp AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), cop AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""


def order_part_grain(li: DataFrame) -> DataFrame:
    """Distinct (order, part) grain — ``pp`` in the oracle CTE."""
    return li.select("l_orderkey", "l_partkey").distinct()


def order_baskets(li: DataFrame) -> DataFrame:
    """Per-order sorted DISTINCT part array — the basket grain the
    pair build explodes. ``collect_set`` is the in-group DISTINCT (the
    ``pp`` CTE's grain, one row per order), ``sort_array`` fixes the
    in-array order so pair generation emits ``p1 < p2`` by
    construction. Per-group state is one order's distinct parts —
    bounded by lines-per-order (≤7 on TPC-H-shaped data), the same
    bound the previous self-join's Σ|basket|² argument already relied
    on."""
    return li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )


def co_order_pairs(li: DataFrame) -> DataFrame:
    """Weighted co-order part pairs: (p1 < p2, w = #orders containing
    both), support-filtered at w >= 2 — the Spark twin of
    ``CO_PAIR_CTE_SQL``'s ``cop``.

    Round-13 rewrite (guide §1.2 step 1, §2.4): the previous form
    self-joined the distinct (order, part) grain within order — a
    distinct exchange, a sort-merge self-join (two more exchanges of
    the grain plus two sorts), then the pair aggregation exchange. The
    basket form reaches the identical pair multiset with TWO exchanges
    and no join: one partial-aggregated ``collect_set`` shuffle keyed
    on the order (the in-group DISTINCT), an in-array pair explode over
    the sorted basket (``pairs_within_buckets``' bounded-group array
    transform), and the same pair aggregation. Pair volume is still
    Σ|basket|²; nothing about the support filter or the (p1 < p2)
    orientation changes, so every consumer's oracle is untouched."""
    return co_pairs_from_baskets(order_baskets(li))


def co_pairs_from_baskets(baskets: DataFrame) -> DataFrame:
    """The pair-explode + support-filter tail of :func:`co_order_pairs`
    over an already-built (optionally materialized) basket frame, so a
    consumer that also needs basket-grain aggregates (q_basket_rules:
    basket count, per-part order counts) can stage the grain ONCE."""
    pair_expr = (
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts) - i - 1),"
        " y -> struct(x AS p1, y AS p2))))"
    )
    return (
        baskets.select(F.explode(F.expr(pair_expr)).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .where(F.col("w") >= 2)
    )


def co_order_edges(li: DataFrame) -> DataFrame:
    """The unweighted edge list (p1 < p2) of the co-occurrence graph."""
    return co_order_pairs(li).select("p1", "p2")
