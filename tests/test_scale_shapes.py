"""Physical-plan assertions: lock in the shapes that matter at 100 TB
(pushdown, pruning, broadcast, TakeOrdered, partial aggregation) so a
refactor that silently degrades a plan fails CI, plus skew/writer tests."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from self_healing_data_pipeline_spark.operators.skew import (
    salted_agg_count,
    salted_join,
)
from self_healing_data_pipeline_spark.sources.writers import write_parquet


def plan_of(spark, sf_dir, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        entrymod.queries()[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_flagship_pushes_filter_and_prunes_columns(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_agg_groupby")
    assert "LessThanOrEqual(l_shipdate" in p  # predicate reached parquet
    assert "partial_" in p  # map-side partial aggregation
    assert "l_orderkey" not in p.split("ReadSchema:")[1].split("\n")[0]  # pruned


def test_star_join_broadcasts_dims(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # no shuffle of the fact side


def test_multiway_join_broadcasts_all_dims(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_join_multiway")
    # nation and region must never shuffle the fact side
    assert p.count("BroadcastHashJoin") >= 2


def test_topk_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "q_topk")


def test_filter_pushdown_composite_predicates(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_filter_pred")
    assert "PushedFilters:" in p
    assert "EqualTo(o_orderstatus,O)" in p.replace("'", "")


def test_salted_join_matches_plain_join(spark):
    skewed = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 10)],
        "k int, payload int",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 10)], "k int, label string")
    plain = skewed.join(dim, "k").groupBy("k").count()
    salted = salted_join(skewed, dim, "k", salt=4).groupBy("k").count()
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_salted_agg_count_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", i) for i in range(1000)] + [("cold", i) for i in range(3)],
        "k string, v int",
    )
    got = {tuple(r) for r in salted_agg_count(df, ["k"], salt=8).collect()}
    assert got == {("hot", 1000), ("cold", 3)}


def test_write_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(100)], "id int, part string"
    )
    out = str(tmp_path / "t")
    write_parquet(df, out, mode="overwrite", partition_by=["part"], target_partitions=2)
    back = spark.read.parquet(out)
    assert back.count() == 100
    # directory partitioning enables partition pruning on read
    pruned = back.filter(F.col("part") == "a")
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters: [isnotnull(part" in buf.getvalue()

def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with no
    Exchange on either side — the co-location contract write_bucketed_table
    exists for."""
    from self_healing_data_pipeline_spark.sources.writers import (
        write_bucketed_table,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    try:
        write_bucketed_table(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            "orders_b", ["o_custkey"], n_buckets=4, sort_cols=["o_custkey"],
            mode="overwrite", path=str(tmp_path / "orders_b"),
        )
        write_bucketed_table(
            customer.select("c_custkey", "c_name"),
            "customer_b", ["c_custkey"], n_buckets=4, sort_cols=["c_custkey"],
            mode="overwrite", path=str(tmp_path / "customer_b"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("orders_b").join(
                spark.table("customer_b"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: no shuffle at all
            assert joined.count() == orders.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_sample_hash_prunes_text_column(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_sample_hash")
    # the sample is decided from doc_id alone — the scan must not read text
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" not in read_schema


def test_contamination_is_single_pass(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_contamination")
    # single-pass per-gram grouping: no self-join, and the documents
    # parquet is scanned exactly once (join branches would scan it twice)
    assert "Join" not in p
    # tree nodes print as "Scan parquet  (<id>)"; the details section
    # repeats the name without the id suffix
    assert p.count("Scan parquet  (") == 1


def test_doc_chunks_is_one_cell_grain_window(spark, sf_dir):
    # Round-10 long-doc fix: the shuffle-free explode-then-substring
    # form was O(len^2/stride) per doc (substring's O(pos) char scan +
    # full-text duplication per chunk row) — 52x wall on the --longdoc
    # tier. The linear form pays exactly ONE exchange: the cell-grain
    # (doc_id, cell_idx) window that reassembles chunks via lead.
    p = plan_of(spark, sf_dir, "q_doc_chunks")
    assert p.count("Exchange") == 2  # formatted explain: tree + details
    assert p.count("Window") == 2  # one Window node (named twice)
    assert "Join" not in p


def test_incremental_dedup_is_anti_join(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_dedup_incremental")
    assert "LeftAnti" in p


def test_tpch_topk_queries_avoid_global_sort(spark, sf_dir):
    for name in ("q_tpch_q3", "q_tpch_q10"):
        p = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in p, name
    # Q10's nation dim must broadcast, never shuffle the fact side for it
    p10 = plan_of(spark, sf_dir, "q_tpch_q10")
    assert "BroadcastHashJoin" in p10


def test_tpch_q5_broadcasts_all_three_dims(spark, sf_dir):
    # supplier/nation/region must broadcast — only the c-o-l chain shuffles
    p = plan_of(spark, sf_dir, "q_tpch_q5")
    assert p.count("BroadcastHashJoin") >= 3


def test_tpch_q6_pushes_all_predicates(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_tpch_q6")
    assert "PushedFilters:" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("]")[0]
    # scan reads only the 4 needed columns
    read = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_tpch_q19_extracts_common_pushdown(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_tpch_q19")
    assert "BroadcastHashJoin" in p
    # Catalyst projects the cross-table OR-of-ANDs onto each side and
    # pushes both single-table disjunctions into the scans
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in p
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in p


def test_tpch_q4_plans_semi_join(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_tpch_q4")
    assert "LeftSemi" in p


def test_zipf_head_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "q_text_zipf")


def test_shard_assign_single_shuffle_on_lang(spark, sf_dir):
    # one exchange for the window (lang), one for the tiny final agg —
    # the running sum must not plan a global (single-partition) window
    p = plan_of(spark, sf_dir, "q_shard_assign")
    assert "SinglePartition" not in p


def test_tpch2_decorrelated_subqueries_plan_hash_joins(spark, sf_dir):
    # Q21: EXISTS/NOT-EXISTS pair must decorrelate to ONE per-order
    # aggregate joined back — no nested-loop, no extra self-join probes
    p21 = plan_of(spark, sf_dir, "q_tpch_q21")
    assert "BroadcastNestedLoopJoin" not in p21
    assert "partial_count" in p21  # per-order aggregate has map-side partials
    # Q22: scalar AVG via broadcast one-row cross join, NOT EXISTS via anti
    p22 = plan_of(spark, sf_dir, "q_tpch_q22")
    assert "LeftAnti" in p22
    # Q20: IN-subquery planned as semi join
    assert "LeftSemi" in plan_of(spark, sf_dir, "q_tpch_q20")


def test_tpch2_dims_broadcast_not_shuffle(spark, sf_dir):
    # Q9: part/supplier/nation all broadcast — lineitem never co-shuffles
    # with a dim
    p9 = plan_of(spark, sf_dir, "q_tpch_q9")
    assert p9.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p9
    # Q9's part-name pattern prunes at the scan
    assert "StringContains(p_name,red)" in p9
    # Q11: same star shape
    p11 = plan_of(spark, sf_dir, "q_tpch_q11")
    assert p11.count("BroadcastHashJoin") >= 3


def test_tpch2_q13_left_join_keeps_zero_order_customers(spark, sf_dir):
    # the priority filter must live INSIDE the join (no Filter above the
    # left join's orders side would keep zero-order customers)
    df = entrymod.queries()["q_tpch_q13"](spark, sf_dir)
    counts = {r["c_count"]: r["custdist"] for r in df.collect()}
    assert 0 in counts  # customers with no qualifying orders are present


def test_tpch2_q2_correlated_min_is_decorrelated(spark, sf_dir):
    # the per-part MIN subquery must plan as a hash aggregate joined back
    # (partial_min map-side), never a nested-loop re-probe per part
    p = plan_of(spark, sf_dir, "q_tpch_q2")
    assert "partial_min" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_analytics_windows_never_single_partition(spark, sf_dir):
    # all four analytics queries window/aggregate per key (user_id or
    # doc_id) — a global (SinglePartition) window would serialize at scale
    for name in (
        "q_time_weighted_avg",
        "q_events_top_paths",
        "q_gaps_islands",
    ):
        assert "SinglePartition" not in plan_of(spark, sf_dir, name), name
    # tfidf carries exactly one SinglePartition: the broadcast 1-row
    # corpus-size aggregate (constant data), never a data-bearing stage
    assert plan_of(spark, sf_dir, "q_text_tfidf_top").count("SinglePartition") <= 2


def test_top_paths_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "q_events_top_paths")


def test_tfidf_single_tokenize_pass(spark, sf_dir):
    # doc_freq is a window over tf, NOT a re-aggregate self-join (which
    # plans the tokenize subtree twice): documents parquet is scanned
    # exactly twice — corpus-size count + one tokenize pass
    p = plan_of(spark, sf_dir, "q_text_tfidf_top")
    assert p.count("Scan parquet  (") <= 2


def test_scalar_branch_exchanges_reused_at_runtime(spark, sf_dir):
    """The broadcast-scalar pattern (crossJoin a 1-row aggregate of an
    expensive CTE) must not compute the CTE twice. Reuse only shows in
    the FINAL adaptive plan, so execute and inspect — and it only fires
    when both branches are canonically identical (see q_tpch_q15's
    not-null note: one pushed join filter is enough to break it)."""
    import re

    for name in ("q_tpch_q2", "q_tpch_q11", "q_tpch_q15"):
        df = entrymod.queries()[name](spark, sf_dir)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p, name
        assert len(re.findall(r"Reused", p)) >= 1, name


def test_dynamic_partition_pruning_fires_on_partitioned_join(spark, sf_dir):
    """Join-driven pruning (DPP): joining the year-partitioned orders
    layout to a FILTERED dim must prune partitions at runtime from the
    dim's values — at 100 TB, the difference between scanning the
    decade and scanning the joined years. Catalyst plans a
    dynamicpruning subquery on the partition column."""
    import os

    from pyspark.sql import functions as F

    from self_healing_data_pipeline_spark.session import SCRATCH_ROOT
    from self_healing_data_pipeline_spark.sources.writers import write_parquet

    out = os.path.join(SCRATCH_ROOT, f"orders_by_year_{os.path.basename(sf_dir)}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        from self_healing_data_pipeline_spark.sources.readers import read_table

        write_parquet(
            read_table(spark, sf_dir, "orders").withColumn(
                "o_year", F.year("o_orderdate")
            ),
            out,
            mode="overwrite",
            partition_by=["o_year"],
        )
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(1996, "a"), (1997, "b")], "year int, tag string"
    ).filter(F.col("tag") == "b")
    joined = fact.join(dim, fact["o_year"] == dim["year"]).select(
        "o_orderkey", "tag"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_tpch2_remaining_plan_shapes(spark, sf_dir):
    # Q12: lateness predicate rides the join as a residual; the year band
    # pushes to the lineitem scan
    p12 = plan_of(spark, sf_dir, "q_tpch_q12")
    assert "GreaterThanOrEqual(l_shipdate" in p12  # year band reaches scan
    # Q17: correlated AVG decorrelated — per-part aggregate, no nested loop
    p17 = plan_of(spark, sf_dir, "q_tpch_q17")
    assert "BroadcastNestedLoopJoin" not in p17
    assert "partial_sum" in p17
    # Q22: anti join carries the dormancy cutoff into the orders scan
    p22 = plan_of(spark, sf_dir, "q_tpch_q22")
    assert "LeftAnti" in p22
    assert "GreaterThanOrEqual(o_orderdate" in p22  # dormancy cutoff pushed


def test_dq_expectation_suite_is_one_scan(spark, sf_dir):
    # the declarative rule suite must stay a single aggregate pass —
    # one parquet scan feeding one partial/final aggregate pair, no joins
    p = plan_of(spark, sf_dir, "q_dq_expectations")
    # one scan node (counted by its unique file-index detail line)
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in p


def test_dq_fk_orphans_broadcasts_small_parents(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_dq_fk_orphans")
    # 5 of 6 relations broadcast their parent; lineitem->orders is the
    # one legitimate big-big shuffle join
    assert p.count("BroadcastHashJoin") >= 5
    assert p.count("SortMergeJoin") <= 1


def test_dq_drift_benford_freshness_single_scan(spark, sf_dir):
    # monthly/global totals are window sums OVER the small aggregate —
    # one table scan, one subtree, no join and no re-derived branch
    for name in ("q_dq_category_drift", "q_dq_benford", "q_dq_freshness"):
        p = plan_of(spark, sf_dir, name)
        assert p.count("Location: InMemoryFileIndex") == 1, name
        assert "Join" not in p, name


def test_cumulative_distinct_window_is_partitioned(spark, sf_dir):
    # the growth-curve running sum partitions by event_type: a global
    # single-partition window over per-day rows would serialize at scale
    p = plan_of(spark, sf_dir, "q_cumulative_distinct")
    assert "SinglePartition" not in p


def test_heavy_hitters_exact_pass_broadcasts_candidates(spark, sf_dir):
    # candidate set (<= k rows/partition) broadcasts; the token stream
    # is never shuffled for candidacy
    p = plan_of(spark, sf_dir, "q_heavy_hitters")
    assert "BroadcastHashJoin" in p


def test_pareto_frontier_window_input_is_preaggregated(spark, sf_dir):
    # the ordered dominance pass runs over one row per distinct spend
    # (per_spend aggregate appears upstream of the window) AND the
    # envelope window partitions by the value bucket — the local-skyline
    # merge means no single task ever sorts the full spend domain
    p = plan_of(spark, sf_dir, "q_pareto_frontier")
    assert "Window" in p
    import re

    # an aggregate on spend_cents must feed the window subtree
    assert re.search(r"partial_max\(n_orders", p) or "max(n_orders" in p
    assert "SinglePartition" not in p
    assert "__b" in p  # bucket-partitioned envelope window


def test_rfm_has_no_global_sort_or_window(spark, sf_dir):
    # quartile scores come from broadcast cut-point comparisons: the
    # final plan must contain no window at all and no SinglePartition
    p = plan_of(spark, sf_dir, "q_customer_rfm")
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_extras6_plans_have_no_global_stages(spark, sf_dir):
    # round-5 batch: percentile bands window per (type, day); cadence
    # windows per customer; time-to-convert is aggregate-only — none may
    # plan a data-bearing global stage
    for name in ("q_percentile_bands", "q_order_cadence", "q_time_to_convert"):
        assert "SinglePartition" not in plan_of(spark, sf_dir, name), name
    # weighted sampling: exactly one SinglePartition — the broadcast
    # 1-row corpus-max aggregate (constant data), never a data stage
    assert plan_of(spark, sf_dir, "q_sample_weighted").count("SinglePartition") <= 1


def test_extras7_plans_have_no_global_stages(spark, sf_dir):
    # stickiness works on the (user, day) grain with a bounded calendar
    # projection; readability is one narrow map — neither may serialize
    for name in ("q_events_stickiness", "q_text_readability"):
        assert "SinglePartition" not in plan_of(spark, sf_dir, name), name
    # leakage audit's only single-partition stage is the 1-row final
    # rollup fed by map-side partials (constant output, like the tfidf
    # corpus-size scalar); the fingerprint-grain aggregate distributes
    assert plan_of(spark, sf_dir, "q_split_leakage").count("SinglePartition") <= 1
    # backlog's running balance windows over per-MONTH rows: exactly the
    # one calendar-bounded ordered pass (q_period_growth discipline)
    assert plan_of(spark, sf_dir, "q_orders_backlog").count("SinglePartition") <= 1


def test_embedding_quantize_stays_jvm_side(spark, sf_dir):
    # the whole quantize->verify pipeline is higher-order array exprs:
    # no Python evaluation node may appear in the plan
    p = plan_of(spark, sf_dir, "q_embedding_quantize")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_pack_context_prefix_sum_is_two_phase(spark, sf_dir):
    # the running token offset must never serialize a whole source
    # through one task: the doc-bearing window partitions by the
    # doc_id-range bucket, and nothing plans SinglePartition
    p = plan_of(spark, sf_dir, "q_pack_context")
    assert "SinglePartition" not in p
    assert "__pfx_bucket" in p


def test_extras8_plans_have_no_global_stages(spark, sf_dir):
    # round-5 batch 3: the inverted index ranks WITHIN term, the prefix
    # join ranks WITHIN doc, triangles join on vertex keys — none may
    # plan a data-bearing global window or sort before the final
    # (bounded-output) presentation orderBy
    for name in ("q_inverted_index", "q_dedup_jaccard_prefix"):
        p = plan_of(spark, sf_dir, name)
        # rank windows must be hash-partitioned, never global
        assert "SinglePartition, Window" not in p.replace("\n", " "), name


def test_triangles_use_degree_orientation_no_cartesian(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_part_triangles")
    # wedge enumeration and edge closing are equi-joins; the only cross
    # joins are the 1-row broadcast scalar assemblies
    assert "CartesianProduct" not in p
    # the final stats row assembles via broadcast nested loop of 1-row
    # aggregates — the established broadcast-scalar pattern (each node
    # prints twice in formatted output: tree line + detail section)
    assert p.count("BroadcastNestedLoopJoin") <= 4


def test_source_coverage_broadcasts_head_vocab(spark, sf_dir):
    # the top-100 head vocabulary must come back as a broadcast, and the
    # global top-k itself must be a bounded TakeOrdered, not a full sort
    p = plan_of(spark, sf_dir, "q_source_coverage")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_minhash_gate_filters_before_signatures(spark, sf_dir):
    # the sketch kernel must run on the fixed gate docs only: the id
    # filter pushes into every documents scan feeding the Arrow UDF
    p = plan_of(spark, sf_dir, "q_minhash_accuracy")
    scans = p.count("Scan parquet") // 2  # tree line + detail section
    filtered = p.count("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,")
    assert scans >= 3 and filtered == scans  # every scan id-pruned


def test_extras9_plans_have_bounded_global_stages(spark, sf_dir):
    # interpolation's one SinglePartition is the ordered pass over the
    # CALENDAR grid (<= span hours, q_orders_backlog discipline), fed by
    # the broadcast min/max bounds — never the event stream
    assert plan_of(spark, sf_dir, "q_interpolate_hourly").count("SinglePartition") <= 1
    # k-hop reach: the only global stages are the three 1-row reach
    # rollups; frontier joins and dedups are hash-partitioned
    assert plan_of(spark, sf_dir, "q_khop_reach").count("SinglePartition") <= 3
    # forward as-of: the LOCF window partitions by user — nothing global
    p = plan_of(spark, sf_dir, "q_join_asof_fwd")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_extras10_plans_are_one_scan_reports(spark, sf_dir):
    # chi-square: marginals + grand total attach as windows over the
    # bounded cell grid (one-scan report policy) — no join, one scan
    p = plan_of(spark, sf_dir, "q_type_weekday_chisq")
    assert "Join" not in p
    assert p.count("Scan parquet  (") == 1
    # trend fitting: min-day window over the bounded daily rollup —
    # one scan, and the only global stage is over aggregate rows
    pt = plan_of(spark, sf_dir, "q_revenue_trend")
    assert pt.count("Scan parquet  (") == 1
    # association rules: bounded top-100 via TakeOrdered, no global sort
    pr = plan_of(spark, sf_dir, "q_basket_rules")
    assert "TakeOrderedAndProject" in pr


def test_phrase_search_filters_postings_before_join(spark, sf_dir):
    # the phrase plan must broadcast the 1-row probe phrase and
    # intersect only the two filtered posting lists — the full
    # positional grain never reaches the (doc, pos) join unfiltered
    p = plan_of(spark, sf_dir, "q_phrase_search")
    assert "TakeOrderedAndProject" in p  # bounded top-1 phrase resolve
    # the posting intersection is an equi-join on (doc, pos+1)
    assert "CartesianProduct" not in p
    # Catalyst rewrites each term filter as a broadcast hash join
    # keyed on the phrase term — the posting grain is pruned by the
    # broadcast before the positional intersection
    assert p.count("BroadcastHashJoin") >= 3


def test_posting_gaps_window_partitions_by_term(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_posting_gaps")
    assert "SinglePartition" not in p


def test_survival_km_stages_are_calendar_bounded(spark, sf_dir):
    # the only global stages operate on the <= span-days timeline (the
    # suffix-sum window, the factor-array rollup) — the per-user grain
    # aggregates hash-partitioned first
    p = plan_of(spark, sf_dir, "q_survival_km")
    assert "CartesianProduct" not in p
    # per-user aggregate must show map-side partials before the shuffle
    assert "partial_min" in p or "partial_" in p


def test_table_diff_is_one_fullouter_join(spark, sf_dir):
    # exact reconciliation = one full-outer shuffle on the key, then a
    # per-verdict rollup with map-side partials — nothing global, no
    # second scan pass per class
    p = plan_of(spark, sf_dir, "q_table_diff")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_" in p


def test_pit_join_is_keyed_range_join(spark, sf_dir):
    # the validity-range predicate must ride as a residual on the
    # custkey equi-join — a cross product per customer would be the
    # classic PIT-join blow-up
    p = plan_of(spark, sf_dir, "q_join_pit")
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p


def test_feature_scale_is_one_stats_pass(spark, sf_dir):
    # moments broadcast back over the rows: one scan feeding the
    # aggregate, one scan for the row side, no global sort
    p = plan_of(spark, sf_dir, "q_feature_scale")
    assert "BroadcastNestedLoopJoin" in p  # 1-row stats broadcast
    assert p.count("SinglePartition") <= 1  # the 1-row moments rollup


def test_extras15_plans_have_no_global_data_stages(spark, sf_dir):
    # sessionization: both windows partition by user — nothing global
    assert "SinglePartition" not in plan_of(spark, sf_dir, "q_sessionize")
    # A/B readout: one scan (conditional-aggregation pivot, no
    # branch-and-join), bounded global stages only
    pa = plan_of(spark, sf_dir, "q_ab_test")
    assert pa.count("Scan parquet  (") == 1
    assert pa.count("SinglePartition") <= 3


def test_stream_quantiles_exact_side_never_sorts_globally(spark, sf_dir):
    # the gate's exact percentile comes from rank selection WITHIN the
    # sketch-located buckets (partitioned window over the semi-filtered
    # slice) — never a full-stream global sort
    p = plan_of(spark, sf_dir, "q_stream_quantiles")
    assert "SinglePartition, Window" not in p.replace("\n", " ")


def test_extras17_plans_are_narrow(spark, sf_dir):
    # redaction is a pure per-row map: no exchange before the output
    p = plan_of(spark, sf_dir, "q_pii_redact")
    assert "Exchange" not in p
    # confusion matrix: one scan, one counted-grain aggregate
    pc = plan_of(spark, sf_dir, "q_langid_confusion")
    assert pc.count("Scan parquet  (") == 1
    assert "partial_" in pc


def test_extras18_plans_are_bounded_rollups(spark, sf_dir):
    # aging: broadcast cutoff scalar + partial-aggregated 4-bucket grid
    p = plan_of(spark, sf_dir, "q_orders_aging")
    assert "partial_" in p and "CartesianProduct" not in p
    # cluster sizes: fingerprint-grain shuffle carries md5 keys only
    pc = plan_of(spark, sf_dir, "q_dedup_cluster_sizes")
    assert pc.count("Scan parquet  (") == 1
    assert "partial_" in pc


def test_pagerank_iterations_are_keyed_joins(spark, sf_dir):
    # Pregel-as-joins: no SinglePartition anywhere (ranks and
    # contributions shuffle on node id), top-20 via TakeOrderedAndProject
    # (no global sort), adjacency checkpointed once (no re-planned
    # basket-pair subtree: zero parquet scans in the final plan)
    p = plan_of(spark, sf_dir, "q_pagerank")
    assert "SinglePartition" not in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet  (") == 0


def test_extras19_reports_are_bounded(spark, sf_dir):
    # FD discovery: per-candidate verdicts reduce to 1-row frames before
    # the union — its SinglePartition stages are exactly those scalars
    p = plan_of(spark, sf_dir, "q_fd_discovery")
    assert p.count("SinglePartition") <= len(
        __import__(
            "self_healing_data_pipeline_spark.queries.dq",
            fromlist=["_FD_CANDIDATES"],
        )._FD_CANDIDATES
    )
    assert "partial_" in p and "CartesianProduct" not in p
    # CUSUM: raw scan collapses to day grain map-side before the one
    # bounded-calendar ordered window; stats frame broadcasts
    pc = plan_of(spark, sf_dir, "q_changepoint_cusum")
    assert pc.count("SinglePartition") <= 2
    assert "partial_" in pc and "BroadcastExchange" in pc
    assert "TakeOrderedAndProject" in pc
    # seasonality / skew report: one data-bearing aggregate each, the
    # only SinglePartition is the broadcast 1-row stats frame
    for name in ("q_dow_seasonality", "q_skew_report"):
        ps = plan_of(spark, sf_dir, name)
        assert ps.count("SinglePartition") <= 1, name
        assert "partial_" in ps and "CartesianProduct" not in ps, name
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "q_skew_report")


def test_extras20_plans_are_bounded(spark, sf_dir):
    # PQ: ADC scan is JVM-side, shortlist via TakeOrderedAndProject.
    # The round-12 promotion added the trained_improves witness: two
    # partial_avg(__recon_mse) scalar reduces (seed-book vs trained-
    # book mean recon error) — map-side partials merging to ONE row
    # each, the same benign class as the erasure report counters. Any
    # data-grain SinglePartition beyond those two still fails.
    p = plan_of(spark, sf_dir, "q_embedding_pq")
    assert p.count("SinglePartition") <= 2
    assert p.count("partial_avg(__recon_mse") == p.count("SinglePartition")
    assert "TakeOrderedAndProject" in p
    # dHash: banded self-join (pigeonhole), no SinglePartition, no cartesian
    pd_ = plan_of(spark, sf_dir, "q_image_dhash")
    assert "SinglePartition" not in pd_
    assert "CartesianProduct" not in pd_
    # erasure: membership tests are semi/anti joins; SinglePartition
    # stages are only the nine 1-row report counters
    pe = plan_of(spark, sf_dir, "q_gdpr_erasure")
    assert pe.count("LeftSemi") + pe.count("LeftAnti") >= 6
    assert pe.count("SinglePartition") <= 9
    assert "CartesianProduct" not in pe
    # temporal split: broadcast bounds + partial-aggregated tag counts
    ps = plan_of(spark, sf_dir, "q_split_temporal")
    assert "partial_" in ps and "CartesianProduct" not in ps
    assert ps.count("SinglePartition") <= 4


def test_extras21_plans_are_bounded(spark, sf_dir):
    # scorecard: fact-fact key join collapses to supplier grain BEFORE
    # the broadcast dim join; top-10 via TakeOrderedAndProject
    p = plan_of(spark, sf_dir, "q_supplier_scorecard")
    assert "SinglePartition" not in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "partial_" in p
    # seasonal anomaly: day-grain collapse + broadcast 7-row profile
    ps = plan_of(spark, sf_dir, "q_seasonal_anomaly")
    assert "SinglePartition" not in ps
    assert "partial_" in ps and "CartesianProduct" not in ps
    # revenue bridge: ONE scan, pushed timestamp range, one key shuffle
    pb = plan_of(spark, sf_dir, "q_revenue_bridge")
    assert pb.count("Scan parquet  (") == 1
    assert "GreaterThanOrEqual(o_orderdate" in pb  # range reached the scan
    assert "SinglePartition" not in pb


def test_connector_scans_have_no_global_stages(spark, sf_dir):
    # custom DataSource: one BatchScan, no SinglePartition (the orderBy
    # is a range exchange); binaryFile: per-file parallel scan + narrow
    # Arrow decode
    p = plan_of(spark, sf_dir, "q_scan_api_source")
    assert "BatchScan synth_api" in p
    assert "SinglePartition" not in p
    pb = plan_of(spark, sf_dir, "q_scan_binaryfile")
    assert "Scan binaryFile" in pb
    assert "SinglePartition" not in pb


def test_extras23_plans_are_bounded(spark, sf_dir):
    # time travel: full-outer-free keyed diff (left join of two
    # snapshots) collapsing to a 3-row rollup; no SinglePartition
    p = plan_of(spark, sf_dir, "q_time_travel")
    assert "SinglePartition" not in p
    assert "partial_" in p and "CartesianProduct" not in p
    # forecast: the only SinglePartition is the broadcast 1-row max-day
    pf = plan_of(spark, sf_dir, "q_forecast_backtest")
    assert pf.count("SinglePartition") <= 1
    assert "partial_" in pf and "CartesianProduct" not in pf


def test_extras24_plans_are_bounded(spark, sf_dir):
    # bloom join: both position probes are broadcast LEFT SEMI hash
    # joins (the fact is never shuffled before them), the dim join is
    # broadcast, and the rollup partial-aggregates
    p = plan_of(spark, sf_dir, "q_bloom_join")
    assert p.count("LeftSemi") >= 2
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # fact side never shuffled for a join
    assert "partial_" in p and "SinglePartition" not in p
    # weighted median: ordered pass runs on the value grain (a
    # partial-aggregated collapse feeds the window), partitioned by flag
    pm = plan_of(spark, sf_dir, "q_weighted_median")
    assert "partial_" in pm
    assert "SinglePartition" not in pm
    # item CF: frequency join-backs broadcast; per-part rank window
    # (no global sort); pair grain shuffles on keys only
    pc = plan_of(spark, sf_dir, "q_item_cf")
    assert pc.count("BroadcastHashJoin") >= 2
    assert "SinglePartition" not in pc
    assert "CartesianProduct" not in pc


def test_extras25_plans_are_bounded(spark, sf_dir):
    # linear attribution: path resolution is windowed (no self-join of
    # the event stream with itself on time), the purchase⋈touch join is
    # keyed, the rollup partial-aggregates; no SinglePartition
    p = plan_of(spark, sf_dir, "q_attribution_linear")
    assert "SinglePartition" not in p
    assert "partial_" in p and "CartesianProduct" not in p
    # entity resolution: the candidate join is block-keyed (an equi-join
    # on the blocking key, never a cartesian scoring pass); best-match
    # is a per-probe rank window
    pe = plan_of(spark, sf_dir, "q_entity_resolution")
    assert "SinglePartition" not in pe
    assert "CartesianProduct" not in pe


def test_extras26_plans_are_bounded(spark, sf_dir):
    # BM25: token aggregates keyed by doc/(doc,term); corpus stats are
    # the broadcast 1-row scalar (its SinglePartition); head via
    # TakeOrderedAndProject
    p = plan_of(spark, sf_dir, "q_text_bm25")
    assert "TakeOrderedAndProject" in p
    assert p.count("SinglePartition") <= 1
    assert "partial_" in p and "CartesianProduct" not in p
    # RRF: ranker scans end in TakeOrderedAndProject; the only
    # SinglePartition stages are the two BOUNDED 20-row shortlist
    # rank windows + final fuse of two 20-row frames
    pr = plan_of(spark, sf_dir, "q_rrf_fusion")
    assert pr.count("TakeOrderedAndProject") >= 2
    assert pr.count("SinglePartition") <= 4
    assert "CartesianProduct" not in pr


def test_extras27_plans_are_bounded(spark, sf_dir):
    # equi-depth histogram: the data-bearing running sum is the
    # PARTITIONED in-megabucket window; SinglePartition appears only
    # for the bounded frames (per-megabucket offsets — price domain
    # / 2^20 rows — and the 1-row total)
    p = plan_of(spark, sf_dir, "q_histogram_equidepth")
    assert "partial_" in p
    assert p.count("SinglePartition") <= 3
    assert "CartesianProduct" not in p
    # join-size estimate: key-grain count + broadcast 1-row total +
    # TakeOrderedAndProject top-10; the rank window runs on the
    # 10-row shortlist only
    pj = plan_of(spark, sf_dir, "q_join_size_estimate")
    assert "TakeOrderedAndProject" in pj
    assert pj.count("SinglePartition") <= 3
    assert "partial_" in pj


def test_extras28_plans_are_bounded(spark, sf_dir):
    # temperature sampling: quotas are a broadcast few-row frame; the
    # selection rank window is PARTITIONED by language (the only big
    # ordered pass); SinglePartition only on the bounded language-grain
    # frames (1-row weight total + quota assembly)
    p = plan_of(spark, sf_dir, "q_sample_temperature")
    assert p.count("SinglePartition") <= 2
    assert "partial_" in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # k-anonymity: one QI-grain shuffle collapsing to the size-bucket
    # report; nothing global
    pk = plan_of(spark, sf_dir, "q_k_anonymity")
    assert "SinglePartition" not in pk
    assert pk.count("Scan parquet  (") == 1
    assert "partial_" in pk


def test_extras29_plans_are_bounded(spark, sf_dir):
    # watermark audit: one per-type running-max window (arrival order),
    # broadcast 3-row delay grid (its nested loop join is against a
    # broadcast literal frame, not a data-data cartesian), bounded rollup
    p = plan_of(spark, sf_dir, "q_watermark_audit")
    assert "SinglePartition" not in p
    assert "partial_" in p
    # ship SLA: one key join + ONE aggregate pass carrying all three
    # conditional counters (not one job per SLA band)
    ps = plan_of(spark, sf_dir, "q_ship_sla")
    assert "SinglePartition" not in ps
    assert "partial_" in ps
    assert ps.count("HashAggregate") <= 4  # one partial+final pair (+AQE)


def test_extras30_plans_are_bounded(spark, sf_dir):
    # RAKE: per-doc stopword running count (partitioned window),
    # counted-grain word stats, TakeOrdered head — no global sort,
    # no SinglePartition
    p = plan_of(spark, sf_dir, "q_text_keyphrase")
    assert "SinglePartition" not in p
    assert "TakeOrderedAndProject" in p
    assert "partial_" in p and "CartesianProduct" not in p
    # norm audit: one narrow scan + bounded band rollup — no joins,
    # no windows, one parquet scan
    pn = plan_of(spark, sf_dir, "q_embedding_norm_audit")
    assert "SinglePartition" not in pn
    assert "Join" not in pn
    assert pn.count("Scan parquet  (") == 1


def test_extras31_plans_are_bounded(spark, sf_dir):
    # link prediction: wedge enumeration + LEFT ANTI vs edges + keyed
    # degree join-backs; top-20 via TakeOrderedAndProject
    p = plan_of(spark, sf_dir, "q_graph_neighbor_jaccard")
    assert "LeftAnti" in p
    assert "TakeOrderedAndProject" in p
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    # seasonal decomposition: day-grain collapse; the SinglePartition
    # stages are the calendar-bounded centered-MA window (cusum class)
    # + the 1-row max-day scalar; weekday profile broadcasts
    ps = plan_of(spark, sf_dir, "q_seasonal_decompose")
    assert ps.count("SinglePartition") <= 3
    assert "partial_" in ps and "BroadcastExchange" in ps


def test_extras32_plans_are_bounded(spark, sf_dir):
    # synthetic generator: Range source (parallel, no parquet scan),
    # narrow integer derivations, bounded rollup
    p = plan_of(spark, sf_dir, "q_generate_synthetic")
    assert "Range" in p
    assert p.count("Scan parquet  (") == 0
    assert "partial_" in p and "SinglePartition" not in p
    # percentile_cont: per-type rank windows + one-row-per-type bounds
    pc = plan_of(spark, sf_dir, "q_percentile_cont")
    assert "SinglePartition" not in pc
    assert "partial_" in pc


def test_extras33_plans_are_bounded(spark, sf_dir):
    # sparse dot: postings shuffle by term (rare-capped), pair scores
    # partial-aggregate, TakeOrdered head; no SinglePartition
    p = plan_of(spark, sf_dir, "q_sparse_dot_topk")
    assert "TakeOrderedAndProject" in p
    # the only SinglePartition is the 1-row corpus-size scalar
    assert p.count("SinglePartition") <= 1
    assert "partial_" in p and "CartesianProduct" not in p
    # segment migration: two-phase bucketed rank (no per-period global
    # window); SinglePartition only on the bounded bucket-offset /
    # period-total frames
    ps = plan_of(spark, sf_dir, "q_segment_migration")
    assert ps.count("SinglePartition") <= 2
    assert "partial_" in ps and "CartesianProduct" not in ps


def test_extras34_plans_are_bounded(spark, sf_dir):
    # imputation: domain-bounded median frame broadcasts; the repair is
    # a broadcast join + narrow coalesce; one fact shuffle to the flag
    # rollup
    p = plan_of(spark, sf_dir, "q_impute_missing")
    assert "BroadcastHashJoin" in p
    assert "partial_" in p and "CartesianProduct" not in p
    # winsorize: cap-finding on the value grain (its window is the
    # price-domain-bounded SinglePartition, equidepth class) + broadcast
    # 1-row caps over the fact
    pw = plan_of(spark, sf_dir, "q_winsorize")
    assert "partial_" in pw
    assert pw.count("SinglePartition") <= 3


def test_extras35_plans_are_bounded(spark, sf_dir):
    # nearest as-of: ONE unioned stream, two user-partitioned LOCF
    # windows, no self-join on time, no SinglePartition
    p = plan_of(spark, sf_dir, "q_join_asof_nearest")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet  (") <= 1  # one pass over events
    # trending terms: one tokenize pass, (recent, term) counts,
    # broadcast totals, TakeOrdered; SinglePartition only on the
    # 1-row scalar frames (id bounds + corpus totals)
    pt = plan_of(spark, sf_dir, "q_trending_terms")
    assert "TakeOrderedAndProject" in pt
    assert pt.count("SinglePartition") <= 3
    assert "partial_" in pt


def test_extras36_recursion_is_keyed_joins(spark, sf_dir):
    # native recursive CTE: levels are keyed joins (no cartesian); the
    # depth bound lives in the recursion's WHERE
    p = plan_of(spark, sf_dir, "q_recursive_reach")
    assert "CartesianProduct" not in p
    assert "partial_" in p


def test_extras37_plans_are_bounded(spark, sf_dir):
    # share-of-parent: one keyed fact join (nation/region broadcast),
    # second-stage totals over the tiny grain broadcast back; no window
    p = plan_of(spark, sf_dir, "q_share_of_parent")
    assert p.count("BroadcastHashJoin") >= 2
    assert "partial_" in p and "CartesianProduct" not in p
    assert "Window" not in p


def test_extras38_plans_are_bounded(spark, sf_dir):
    # null-semantics: ONE conditional-counter aggregate pass over one
    # scan (its 1-row final is the only SinglePartition)
    p = plan_of(spark, sf_dir, "q_null_semantics")
    assert p.count("Scan parquet  (") == 1
    assert p.count("SinglePartition") <= 1
    assert "partial_" in p


def test_extras39_plans_are_bounded(spark, sf_dir):
    # dedup explain: span self-join shuffles hashes; only the single
    # top pair's positions reach the islands window (bounded frame);
    # the scalar frames (top1 / max_run) are the SinglePartitions
    p = plan_of(spark, sf_dir, "q_dedup_explain")
    assert "CartesianProduct" not in p
    assert "partial_" in p
    assert p.count("SinglePartition") <= 5


def test_extras40_plans_are_bounded(spark, sf_dir):
    # inventory floor: two per-supplier windows, pure JVM (no
    # Python-fold stage), no SinglePartition
    p = plan_of(spark, sf_dir, "q_inventory_floor")
    assert "SinglePartition" not in p
    assert "FlatMapGroupsInPandas" not in p and "MapInPandas" not in p
    assert "partial_" in p
    # heatmap: one collapse to the bounded grid + broadcast total
    ph = plan_of(spark, sf_dir, "q_events_heatmap")
    assert ph.count("SinglePartition") <= 1
    assert "partial_" in ph


def test_extras41_plans_are_bounded(spark, sf_dir):
    # bitemporal: 4-row probe grid broadcasts (nested-loop against a
    # broadcast literal frame only); rank window partitions by
    # (probe, customer); no SinglePartition
    p = plan_of(spark, sf_dir, "q_bitemporal")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "partial_" in p
    # class weights: label-grain count + broadcast 1-row scalar
    pc = plan_of(spark, sf_dir, "q_class_weights")
    assert pc.count("SinglePartition") <= 1
    assert "partial_" in pc


def test_extras42_plans_are_bounded(spark, sf_dir):
    # corr matrix: one means pass + ONE moment scan; the scalar frames
    # are the only SinglePartitions; no per-pair jobs
    p = plan_of(spark, sf_dir, "q_corr_matrix")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # value percentile: broadcast probe grid + one counter pass
    pv = plan_of(spark, sf_dir, "q_value_percentile")
    assert "SinglePartition" not in pv
    assert "partial_" in pv


def test_extras43_plans_are_bounded(spark, sf_dir):
    # FIFO: per-supplier windows + BANDED candidate join (equi on
    # (sk, band) — no per-supplier nested loop), exact overlap filter
    p = plan_of(spark, sf_dir, "q_fifo_allocation")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_" in p


def test_extras44_plans_are_bounded(spark, sf_dir):
    # compaction planner: (month, file)-grain partial agg; running-
    # bytes window partitions by month — never SinglePartition
    p = plan_of(spark, sf_dir, "q_compaction_bins")
    assert "SinglePartition" not in p
    assert "partial_" in p
    # zone-map audit: per-file verdicts + pushed-down BETWEEN recount,
    # broadcast month-grain join
    pz = plan_of(spark, sf_dir, "q_zone_map_prune")
    assert "SinglePartition" not in pz
    assert "partial_" in pz
    assert "GreaterThanOrEqual(l_extendedprice" in pz  # pushed filter


def test_extras45_plans_are_bounded(spark, sf_dir):
    # grouped OLS: broadcast group means + ONE moment pass per flag
    p = plan_of(spark, sf_dir, "q_regr_slope")
    assert "SinglePartition" not in p
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    # gini: two-phase bucketed rank — windows partition by
    # nation(/band), never a global total-order sort
    pg = plan_of(spark, sf_dir, "q_gini_concentration")
    assert "SinglePartition" not in pg
    assert "partial_" in pg


def test_extras46_plans_are_bounded(spark, sf_dir):
    # target encoding: category-grain agg + broadcast 1-row global
    p = plan_of(spark, sf_dir, "q_target_encoding")
    assert p.count("SinglePartition") <= 1  # only the 1-row global agg
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    # PMI table: cell/marginal counts, marginals broadcast back
    pa = plan_of(spark, sf_dir, "q_assoc_pmi")
    assert pa.count("SinglePartition") <= 1
    assert "partial_" in pa
    assert "BroadcastHashJoin" in pa


def test_extras47_plans_are_bounded(spark, sf_dir):
    # ACF: day-grain series, lag explode of the tiny frame, equi-join
    p = plan_of(spark, sf_dir, "q_autocorrelation")
    # scalar frames only (mean + denom and their exchanges) — all over
    # the bounded day-grain series, never the fact path
    assert p.count("SinglePartition") <= 4
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # OHLC: ONE partial-aggregated groupBy — no within-bar window
    po = plan_of(spark, sf_dir, "q_ohlc_bars")
    assert "SinglePartition" not in po
    assert "partial_" in po
    assert "Window" not in po
    assert "EqualTo(event_type,purchase)" in po  # pushed filter


def test_extras48_plans_are_bounded(spark, sf_dir):
    # KS drift: bucket-grain counts; prefix sum two-phase (superband
    # offsets are the only SinglePartition window inputs — bounded
    # frames), TakeOrdered argmax
    p = plan_of(spark, sf_dir, "q_ks_drift")
    assert "partial_" in p
    assert "TakeOrderedAndProject" in p
    # embedding covariance: broadcast means + ONE moment scan; only
    # the scalar frames are SinglePartition
    pe = plan_of(spark, sf_dir, "q_embedding_covariance")
    assert "partial_" in pe
    assert "CartesianProduct" not in pe


def test_extras49_plans_are_bounded(spark, sf_dir):
    # DiD: 2x2 cell aggregate over fact x broadcast dim, 1-row pivot
    p = plan_of(spark, sf_dir, "q_did_uplift")
    assert p.count("SinglePartition") <= 1  # only the 1-row pivot
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    # l-diversity: one QI-key shuffle with two-level distinct expand
    pl = plan_of(spark, sf_dir, "q_l_diversity")
    assert "SinglePartition" not in pl
    assert "partial_" in pl


def test_extras50_plans_are_bounded(spark, sf_dir):
    # AUC: value-grain collapse, two-phase banded prefix sum (band
    # offsets are the only bounded SinglePartition window), scalar agg
    p = plan_of(spark, sf_dir, "q_roc_auc")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # label propagation: k unrolled keyed joins + min aggregates —
    # no window at all, no SinglePartition
    pl = plan_of(spark, sf_dir, "q_label_propagation")
    assert "SinglePartition" not in pl
    assert "Window" not in pl
    assert "partial_" in pl
    assert "TakeOrderedAndProject" in pl


def test_extras51_plans_are_bounded(spark, sf_dir):
    # retention sweep: per-key lead window + rollup + TakeOrdered
    p = plan_of(spark, sf_dir, "q_retention_sweep")
    assert "SinglePartition" not in p
    assert "partial_" in p
    assert "TakeOrderedAndProject" in p
    # partition advisor: 3 bucket-grain counts each collapsed to a
    # 1-row summary (those scalar frames are the only SinglePartition)
    pa = plan_of(spark, sf_dir, "q_partition_advisor")
    assert "partial_" in pa
    assert "CartesianProduct" not in pa


def test_extras52_plans_are_bounded(spark, sf_dir):
    # media dedup: digest-grain groupBys + cluster-grain join; the
    # shuffle key is the 64-hex digest, never payload bytes
    p = plan_of(spark, sf_dir, "q_media_dedup")
    assert "SinglePartition" not in p
    assert "partial_" in p


def test_extras53_plans_are_bounded(spark, sf_dir):
    # HHI: supplier-grain agg -> nation rollup, dim broadcast, no window
    p = plan_of(spark, sf_dir, "q_hhi_concentration")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    # new-vs-returning: min agg + same-key join-back + month rollup
    pn = plan_of(spark, sf_dir, "q_new_vs_returning")
    assert "SinglePartition" not in pn
    assert "Window" not in pn
    assert "partial_" in pn


def test_extras54_plans_are_bounded(spark, sf_dir):
    # price-volume bridge: pushed range scan + broadcast dim + ONE
    # brand-grain conditional aggregate
    p = plan_of(spark, sf_dir, "q_price_volume_bridge")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    assert "GreaterThanOrEqual(l_shipdate" in p  # pushed range
    # bot regularity: per-user lag window + raw-moment agg + TakeOrdered
    pb = plan_of(spark, sf_dir, "q_bot_regularity")
    assert "SinglePartition" not in pb
    assert "partial_" in pb
    assert "TakeOrderedAndProject" in pb


def test_extras55_plans_are_bounded(spark, sf_dir):
    # ANN recall eval: broadcast probe panel + centroid equi-join;
    # rank windows partition by probe
    p = plan_of(spark, sf_dir, "q_ann_recall_at_k")
    assert "SinglePartition" not in p
    assert "partial_" in p
    # temporal audit: one keyed fact join + month rollup, no window
    pt = plan_of(spark, sf_dir, "q_dq_temporal_consistency")
    assert "SinglePartition" not in pt
    assert "Window" not in pt
    assert "partial_" in pt


def test_extras56_plans_are_bounded(spark, sf_dir):
    # pareto 80/20: count-value-grain frame windows only (bounded);
    # user grain never sorts
    p = plan_of(spark, sf_dir, "q_pareto_8020")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # encoding advisor: page-partitioned lag windows; the only
    # SinglePartitions are the per-column 1-row scalar reductions
    pe = plan_of(spark, sf_dir, "q_encoding_advisor")
    assert pe.count("Window") >= 1
    assert "partial_" in pe


def test_extras57_plans_are_bounded(spark, sf_dir):
    # business days: one fact-fact equi-join + month-grain partial agg;
    # the weekday closed form is pure integer expressions (no UDF, no
    # calendar spine, no window)
    p = plan_of(spark, sf_dir, "q_business_days")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # mann-kendall: day-grain collapse first; the pairwise sign join is
    # broadcast on the bounded calendar grain; the only SinglePartitions
    # are the 1-row scalar reductions (s/n/tie aggregates)
    pm = plan_of(spark, sf_dir, "q_mann_kendall")
    assert "Window" not in pm
    assert "partial_" in pm
    assert "BroadcastNestedLoopJoin" in pm
    assert "CartesianProduct" not in pm


def test_extras58_plans_are_bounded(spark, sf_dir):
    # wilson: supplier-grain partial agg + broadcast dim + top-25; the
    # formula is a pure column expression (no window, no UDF)
    p = plan_of(spark, sf_dir, "q_wilson_ranking")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    # lorenz: two-phase banded rank — within-band windows partition by
    # band; the only SinglePartition windows run on BOUNDED grains
    # (band offsets, the 10 decile rows)
    pl = plan_of(spark, sf_dir, "q_lorenz_curve")
    assert "partial_" in pl
    assert "BroadcastHashJoin" in pl
    assert "CartesianProduct" not in pl


def test_extras59_plans_are_bounded(spark, sf_dir):
    # containment: asymmetric prefix filter -> posting join; windows
    # partition by shingle/doc, never SinglePartition; no all-pairs
    p = plan_of(spark, sf_dir, "q_dedup_containment")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p  # df/size/rank windows partition by sh/doc_id
    # dict candidates: linear strided_spans cells (lead-window
    # PARTITIONED BY doc_id — the round-10 refit off the quadratic
    # dynamic-substring form) + gram-grain count + top-50
    pd = plan_of(spark, sf_dir, "q_dict_candidates")
    assert "SinglePartition" not in pd
    assert "Window" in pd
    assert "partial_" in pd
    assert "TakeOrderedAndProject" in pd


def test_extras60_plans_are_bounded(spark, sf_dir):
    # fan-out audit: key-grain LEFT-join count + multiplicity-grain
    # collapse; the only SinglePartition window runs over the BOUNDED
    # multiplicity histogram (max lines per order)
    p = plan_of(spark, sf_dir, "q_join_fanout_audit")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # bias audit: ONE category-grain conditional aggregate (sample is a
    # filter expression, not a second scan), pure per-row float math
    pb = plan_of(spark, sf_dir, "q_sample_bias_audit")
    assert "SinglePartition" not in pb
    assert "Window" not in pb
    assert "partial_" in pb
    # exactly ONE scan node (it appears twice in formatted output:
    # once in the tree, once in the node detail)
    assert pb.count("Scan parquet") == 2


def test_extras61_plans_are_bounded(spark, sf_dir):
    # session co-occurrence: per-user lag/cumsum windows (parallel by
    # user), distinct (session,type) grain, bounded 9x pair fan-out;
    # the only SinglePartition is the 1-row session-count scalar
    p = plan_of(spark, sf_dir, "q_session_cooccurrence")
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # feature-hash audit: feature-grain collapse first (one pass over
    # fact x broadcast dim), then ~150-row hash/collision groupBy
    pf = plan_of(spark, sf_dir, "q_feature_hash_audit")
    assert "SinglePartition" not in pf
    assert "Window" not in pf
    assert "partial_" in pf
    assert "BroadcastHashJoin" in pf


def test_extras62_plans_are_bounded(spark, sf_dir):
    # sort-key what-if: one distinct-count aggregate per candidate —
    # no window, no sort; SinglePartitions are the 1-row summaries
    p = plan_of(spark, sf_dir, "q_sort_key_whatif")
    assert "Window" not in p
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # degree distribution: per-order pair join (bounded basket fan-out),
    # part-grain degree agg, log-bucket histogram
    pd = plan_of(spark, sf_dir, "q_degree_distribution")
    assert "SinglePartition" not in pd
    assert "Window" not in pd
    assert "partial_" in pd


def test_extras63_plans_are_bounded(spark, sf_dir):
    # growth accounting: DISTINCT (user, week) grain; self-joins are
    # co-partitioned on user; ledger collapses at week grain
    p = plan_of(spark, sf_dir, "q_growth_accounting")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    # vocab growth: first-seen grain + bounded checkpoint broadcast
    # range join — no per-prefix rescans, no corpus-order window
    pv = plan_of(spark, sf_dir, "q_vocab_growth")
    assert "SinglePartition" not in pv
    assert "Window" not in pv
    assert "partial_" in pv


def test_extras64_plans_are_bounded(spark, sf_dir):
    # price relatives: (brand, month) cell aggregate bounds everything;
    # broadcast dim + tiny-table join-backs, no window
    p = plan_of(spark, sf_dir, "q_price_relatives")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    # burstiness: (word, doc) grain -> word-grain integer raw moments,
    # top-30 TakeOrdered; the 1-row N scalar is the only SinglePartition
    pb = plan_of(spark, sf_dir, "q_word_burstiness")
    assert "Window" not in pb
    assert "partial_" in pb
    assert "TakeOrderedAndProject" in pb


def test_extras65_plans_are_bounded(spark, sf_dir):
    # ABC: two-phase banded rank (descending) — within-band windows
    # partition by band; SinglePartitions only on bounded grains
    # (band offsets, 3 class rows)
    p = plan_of(spark, sf_dir, "q_abc_classification")
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # novelty: shingle first-seen MIN + one join-back + source rollup
    pn = plan_of(spark, sf_dir, "q_doc_novelty")
    assert "SinglePartition" not in pn
    assert "Window" not in pn
    assert "partial_" in pn


def test_extras66_plans_are_bounded(spark, sf_dir):
    # bullwhip: two month-grain aggregates -> integer raw moments;
    # the two scalar reductions are the only SinglePartitions
    p = plan_of(spark, sf_dir, "q_bullwhip")
    assert "Window" not in p
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # clustering depth: page-grain MIN/MAX per column -> 1-row scalar
    # rollups; no window, no sort
    pc = plan_of(spark, sf_dir, "q_clustering_depth")
    assert "Window" not in pc
    assert "partial_" in pc
    assert "CartesianProduct" not in pc


def test_extras67_plans_are_bounded(spark, sf_dir):
    # selectivity audit: two-phase banded cumulative (in-bucket window
    # partitions by megabucket); probes are ONE conditional-agg pass;
    # SinglePartitions only on bounded grains (offsets, scalars)
    p = plan_of(spark, sf_dir, "q_selectivity_audit")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # dataset card: ONE aggregate pass over documents — no join, no
    # window, no explode; the 1-row card is the only SinglePartition
    pd = plan_of(spark, sf_dir, "q_dataset_card")
    assert "Window" not in pd
    assert "partial_" in pd
    assert pd.count("Scan parquet") == 2  # one scan node (tree+detail)


def test_extras68_plans_are_bounded(spark, sf_dir):
    # chunk audit: pure integer expressions per doc + source rollup —
    # no explode, no window, no join, ONE scan
    p = plan_of(spark, sf_dir, "q_chunk_coverage_audit")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert p.count("Scan parquet") == 2  # one scan node (tree+detail)
    # threshold sweep: 0.7-prefix postings join + exact verify, ONE
    # conditional-agg collapse (the 1-row scalar is the only
    # SinglePartition); windows partition by sh/doc_id
    ps = plan_of(spark, sf_dir, "q_dedup_threshold_sweep")
    assert "CartesianProduct" not in ps
    assert "Window" in ps
    assert "partial_" in ps


def test_extras69_plans_are_bounded(spark, sf_dir):
    # fertility: Arrow-batched BPE kernel in one narrow projection +
    # lang-grain aggregate; no window, no join, text never shuffles
    p = plan_of(spark, sf_dir, "q_tokenizer_fertility")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert "ArrowEvalPython" in p
    # stopword discovery: word-grain integer raw moments + broadcast
    # scalar; the 1-row N is the only SinglePartition
    ps = plan_of(spark, sf_dir, "q_stopword_discovery")
    assert "Window" not in ps
    assert "partial_" in ps
    assert "CartesianProduct" not in ps


def test_extras70_plans_are_bounded(spark, sf_dir):
    # reconciliation: key-grain line aggregate + co-partitionable LEFT
    # join + bounded decade rollup; no window
    p = plan_of(spark, sf_dir, "q_ledger_reconciliation")
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "partial_" in p
    # SCD2 integrity: per-key lead window (parallel by key) + key-grain
    # aggregate; the 1-row corpus rollup is the only SinglePartition
    ps = plan_of(spark, sf_dir, "q_scd2_integrity")
    assert "Window" in ps
    assert "partial_" in ps
    assert "CartesianProduct" not in ps


def test_extras71_plans_are_bounded(spark, sf_dir):
    # feature screen: value-grain count + scalar collapse per column;
    # the 1-row summaries are the only SinglePartitions
    p = plan_of(spark, sf_dir, "q_feature_screen")
    assert "Window" not in p
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # double-payment queue: equi self-join on custkey (residual day
    # window) + top-25 TakeOrdered; never a per-customer cross
    pd = plan_of(spark, sf_dir, "q_double_payment")
    assert "SinglePartition" not in pd
    assert "Window" not in pd
    assert "CartesianProduct" not in pd
    assert "TakeOrderedAndProject" in pd


def test_extras72_plans_are_bounded(spark, sf_dir):
    # IVFADC: the only cartesian is the broadcast probe-panel
    # crossJoin of the exact-truth eval branch (the harness pattern);
    # the ADC scan joins the broadcast spec on centroid_id, and all
    # windows partition by probe — no global sort, no SinglePartition
    # window.
    p = plan_of(spark, sf_dir, "q_ann_ivfadc")
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" not in p
    # every window partitions by probe_id — a Window over
    # SinglePartition would serialize the panel
    import re

    for frag in re.findall(r"Arguments: \[[^\]]*windowspecdefinition[^\]]*\]", p):
        assert "probe_id" in frag


def test_extras73_plans_are_bounded(spark, sf_dir):
    # catalog graph: FK edges come from the CATALOGED discovery result
    # (discovered_fk_edges — the distributed distinct-value pipeline
    # runs once per session, consumers read the memoized catalog);
    # schema/lineage edges are metadata literals — never a cartesian
    p = plan_of(spark, sf_dir, "q_catalog_graph")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    # impact closure: driver-side BFS over the metadata-sized cataloged
    # edge list (|FKs| + |stages| rows at any corpus scale)
    pi = plan_of(spark, sf_dir, "q_catalog_graph_impact")
    assert "CartesianProduct" not in pi
    assert "Window" not in pi


def test_extras74_plans_are_bounded(spark, sf_dir):
    # filter cascade: one scan computes all five flags; the only
    # shuffles are the md5 dedup window and the 1-row collapse
    p = plan_of(spark, sf_dir, "q_filter_cascade")
    assert "CartesianProduct" not in p
    assert "partial_" in p  # the conditional-count collapse is partial-agg'd
    # token budget: rank/cumulative windows run on the bounded source
    # grain (the legitimate SinglePartition case), AFTER a partial
    # source-grain aggregate
    pb = plan_of(spark, sf_dir, "q_token_budget")
    assert "CartesianProduct" not in pb
    assert "partial_" in pb


def test_extras75_plans_are_bounded(spark, sf_dir):
    # OLS trend: one broadcast scalar + one partial-aggregated moment
    # scan at the priority grain; no windows
    p = plan_of(spark, sf_dir, "q_ols_trend")
    assert "partial_" in p
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" not in p


def test_extras76_plans_are_bounded(spark, sf_dir):
    # retention plan: broadcast scalar max + month-grain partial agg
    p = plan_of(spark, sf_dir, "q_retention_plan")
    assert "partial_" in p
    assert "Window" not in p
    # bucket advisor: value-grain partial counts, no windows, no
    # cartesians; shuffle carries distinct key values only
    pb = plan_of(spark, sf_dir, "q_bucket_advisor")
    assert "partial_" in pb
    assert "Window" not in pb
    assert "CartesianProduct" not in pb


def test_extras77_plans_are_bounded(spark, sf_dir):
    # nth/first/last windows: one segment-partitioned window exchange,
    # top-200 via a bounded sort; no cartesians
    p = plan_of(spark, sf_dir, "q_window_nth")
    assert "CartesianProduct" not in p
    # mode: value-grain partial counts first, windows only over the
    # bounded (segment, nation) domain
    pm = plan_of(spark, sf_dir, "q_agg_mode")
    assert "partial_" in pm
    assert "CartesianProduct" not in pm


def test_extras78_plans_are_bounded(spark, sf_dir):
    # distribution windows: ONE window exchange per query (both
    # functions share the window spec), hash-partitioned by a group
    # key — never a global sort of the data
    for k in ("q_window_cume_dist", "q_window_ntile"):
        p = plan_of(spark, sf_dir, k)
        assert "CartesianProduct" not in p
        assert p.count("Window") <= 2  # one Window node (+ header echo)
    # multiset ops compile to aggregate + join on the value, with
    # map-side partials — the raw stream never shuffles whole
    for k in ("q_set_intersect_all", "q_set_except_all"):
        p = plan_of(spark, sf_dir, k)
        assert "partial_" in p
        assert "CartesianProduct" not in p
    # posexplode: row-local generate, no exchange before the sort
    p = plan_of(spark, sf_dir, "q_explode_pos")
    assert "Generate" in p and "CartesianProduct" not in p
    # null-safe join: both sides pre-aggregated (partial_) and the
    # ≤101-row frames broadcast — no sort-merge of raw rows
    p = plan_of(spark, sf_dir, "q_join_null_safe")
    assert "partial_" in p and "CartesianProduct" not in p


def test_extras79_plans_are_bounded(spark, sf_dir):
    # rolling actives: the explode fans out user-DAYS (already
    # deduped), capped at 7×; distinct aggregates carry partials
    p = plan_of(spark, sf_dir, "q_rolling_active_users")
    assert "partial_" in p and "CartesianProduct" not in p
    # audience overlap: per-type sizes broadcast back to pair counts
    p = plan_of(spark, sf_dir, "q_type_user_overlap")
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    # hashing features: partial counts combine map-side (≤16 buckets
    # per doc) before the shuffle
    p = plan_of(spark, sf_dir, "q_text_hashing_features")
    assert "partial_" in p
    # burst minutes: the only single partition is the MINUTE frame
    # (bounded by the time range), and the median broadcasts back
    p = plan_of(spark, sf_dir, "q_events_burst_minutes")
    assert "partial_" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_extras80_plans_are_bounded(spark, sf_dir):
    # multi-measure pivot / grouping sets: one expand + hash aggregate
    # with map-side partials, bounded output domains
    for k in ("q_pivot_multi_agg", "q_grouping_id"):
        p = plan_of(spark, sf_dir, k)
        assert "partial_" in p
        assert "CartesianProduct" not in p
    # bit-exact embedding dedup: the join key is the 16-byte digest —
    # no array-keyed shuffle of raw vectors, no cartesian
    p = plan_of(spark, sf_dir, "q_embedding_dedup_bitexact")
    assert "md5" in p and "CartesianProduct" not in p


def test_extras81_plans_are_bounded(spark, sf_dir):
    # two-phase sessionize: every events-grain window is
    # (user_id, bucket)-partitioned — the plan must NOT contain a
    # window partitioned by user_id alone at events grain (the skew
    # cap is the whole point); the per-user ordered pass runs on the
    # bucket-grain summary only
    p = plan_of(spark, sf_dir, "q_sessionize_twophase")
    assert "CartesianProduct" not in p
    assert "partial_" in p
    # LOCF ignore-nulls: one window exchange per user partition
    p = plan_of(spark, sf_dir, "q_window_ignore_nulls")
    assert "CartesianProduct" not in p
    # histogram: broadcast one-row min/max scalar + bounded-domain agg
    p = plan_of(spark, sf_dir, "q_histogram_bins")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_" in p


def test_extras82_plans_are_bounded(spark, sf_dir):
    # outer explode: row-local generate
    p = plan_of(spark, sf_dir, "q_explode_outer")
    assert "Generate" in p and "CartesianProduct" not in p
    # HOF predicates: one collect aggregate, then row-local HOFs
    p = plan_of(spark, sf_dir, "q_array_hof_predicates")
    assert "partial_" in p or "ObjectHashAggregate" in p
    assert "CartesianProduct" not in p
    # OOV: vocab top-k must be the distributed TakeOrderedAndProject,
    # never a vocab-sized single-partition window
    p = plan_of(spark, sf_dir, "q_oov_rate")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    # label balance: one-row scalar broadcast + bounded label grain
    p = plan_of(spark, sf_dir, "q_label_balance")
    assert "partial_" in p


def test_extras83_plans_are_bounded(spark, sf_dir):
    # table checksum: one scan + one partial-aggregated fold per table,
    # NO sort and no row shuffle (the exchange carries one partial sum
    # per partition) — order independence is the operator's contract
    p = plan_of(spark, sf_dir, "q_table_checksum")
    assert "partial_" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # compressibility: narrow Arrow projection + language-grain partials
    p = plan_of(spark, sf_dir, "q_doc_compression_ratio")
    assert "ArrowEvalPython" in p and "partial_" in p


def test_extras84_plans_are_bounded(spark, sf_dir):
    # lateral aggregate decorrelates: partial-aggregated equi-join, no
    # per-outer-row nested-loop re-execution of the subquery
    p = plan_of(spark, sf_dir, "q_join_lateral")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    # QUALIFY rewrite compiles to WindowGroupLimit: map-side per-group
    # top-k BEFORE the shuffle — the exchange carries O(groups x k),
    # not the table
    p = plan_of(spark, sf_dir, "q_window_qualify")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    # both sampling plans are narrow single scans (hash filter is a
    # pushable-shape predicate + one-row aggregate; native sample adds
    # a Sample node, never a shuffle of the unsampled table)
    p = plan_of(spark, sf_dir, "q_tablesample_stable")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_kmeans_assign_promoted_shape(spark, sf_dir):
    # round-9 oracle-backed restructure: seed-centroid assignment is an
    # Arrow matmul narrow map; cluster sizes partial-aggregate; the
    # trained-run witnesses ride in as broadcast one-row aggregates --
    # nothing shuffles vectors, nothing plans a real cartesian product
    p = plan_of(spark, sf_dir, "q_kmeans_assign")
    assert "ArrowEvalPython" in p
    assert "partial_" in p
    assert "CartesianProduct" not in p


def test_extras85_plans_are_bounded(spark, sf_dir):
    # DISTINCT ON rewrite: WindowGroupLimit forwards one row per
    # segment per map task -- the exchange is O(groups), not the table
    p = plan_of(spark, sf_dir, "q_distinct_on")
    assert "WindowGroupLimit" in p
    # FILTER-clause aggregates: ONE scan, one partial-aggregated
    # exchange -- conditional accumulators never add passes
    p = plan_of(spark, sf_dir, "q_agg_filter")
    assert "partial_" in p
    # formatted explain names each scan twice (tree + details):
    # exactly one physical scan == two mentions
    assert p.count("Scan parquet") == 2
    # bounded listagg: rank-limit BEFORE the string aggregate
    p = plan_of(spark, sf_dir, "q_string_agg")
    assert "WindowGroupLimit" in p
    assert "partial_" in p
    # native percentile_cont: partial-aggregated ordered-set aggregate,
    # no global sort of the input
    p = plan_of(spark, sf_dir, "q_percentile_within_group")
    assert "partial_" in p
    assert "CartesianProduct" not in p


def test_extras86_plans_are_bounded(spark, sf_dir):
    # EXCLUDE rewrite, two-phase value-grain form: the RANGE window
    # runs over (type, value) GROUPS (bounded by the value domain, not
    # rows -- Spark re-sums sliding RANGE buffers per row, so the
    # row-grain form was O(rows x frame_density)); rows join back on
    # the group key; partial aggregation feeds the group build
    p = plan_of(spark, sf_dir, "q_window_exclude")
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert "partial_" in p
    # injected-PII redaction: one narrow JVM regexp projection, no
    # Python, no shuffle before the declared output sort
    p = plan_of(spark, sf_dir, "q_pii_redact_injected")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "Join" not in p


def test_extras87_plans_are_bounded(spark, sf_dir):
    # two-stage retrieval: broadcast-probe scans + per-probe rank
    # windows; the only "cross" join is the broadcast probe panel
    p = plan_of(spark, sf_dir, "q_ann_two_stage")
    assert "SinglePartition" not in p
    assert "partial_" in p
    # MRL ablation: ONE scored scan exploded to the three prefix dims,
    # per-(dim, probe) windows, dim-grain aggregate
    p = plan_of(spark, sf_dir, "q_ann_mrl_ablation")
    assert "SinglePartition" not in p
    assert "partial_" in p


def test_extras88_plans_are_bounded(spark, sf_dir):
    # GROUPS-mode rewrite: same two-phase value-grain shape as
    # q_window_exclude -- partial-aggregated group build, ROWS frame
    # over group rows, join-back; never a dense row-grain frame
    p = plan_of(spark, sf_dir, "q_window_groups_mode")
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert "partial_" in p


def test_extras89_plans_are_bounded(spark, sf_dir):
    # window-FILTER rewrite: BOTH filtered aggregates ride ONE Window
    # node over ONE exchange (same partition+order) -- the FILTER
    # rewrite never adds a second shuffle
    p = plan_of(spark, sf_dir, "q_window_agg_filter")
    # formatted explain names each node twice (tree + details):
    # exactly one physical Window == two mentions
    assert p.count("Window") == 2
    assert "CartesianProduct" not in p
    # WITH ORDINALITY twin: a narrow Generate (posexplode), no shuffle
    # before the driver-compare sort, no join
    p = plan_of(spark, sf_dir, "q_unnest_ordinality")
    assert "Generate" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # GROUPS+EXCLUDE composition: the q_window_exclude two-phase shape
    # (group-grain window + join-back), exclusions as closed-form
    # arithmetic -- ONE window total, never one per exclusion variant
    p = plan_of(spark, sf_dir, "q_window_groups_exclude")
    assert p.count("Window") >= 1
    assert "partial_" in p  # group-grain collapse partial-aggregates
    assert "CartesianProduct" not in p
