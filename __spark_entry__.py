"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``self_healing_data_pipeline_spark`` (operators by
SURVEY.md §2 section); this module only adapts them to the contract.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from self_healing_data_pipeline_spark import registry  # noqa: E402

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    return registry.QUERIES["q_agg_groupby"](spark, "/root/testdata/sf0.001")


def _latest_verdicts() -> dict[str, tuple[bool, int, bool]]:
    """Latest per-key driver verdict from CORRECTNESS_r*.json files, as
    ``key -> (green, round, rows_only)`` where ``round`` is the round
    of the MOST RECENT verdict (its vintage). green=True means
    hash-verified, or rows-only-by-design with rows recorded; False =
    the verdict failed. rows_only=True means that latest verdict was
    the weaker no-oracle record. Keys never checked are absent.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[bool, int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        fname = os.path.basename(path)
        digits = "".join(c for c in fname if c.isdigit())
        rnd = int(digits) if digits else 0
        for key, v in data.items():
            if isinstance(v, dict):
                rows_only = (
                    v.get("err") == "no_oracle"
                    and v.get("spark_rows") is not None
                )
                green = bool(v.get("hash_match")) or rows_only
                latest[key] = (green, rnd, rows_only)
    return latest


#: Output contract or implementation changed since the key's latest
#: recorded verdict — re-verify ahead of the vintage queue (see
#: queries() docstring). Maintained mechanically by
#: tools/verify_slate.py; refreshed at each round start.
_CHANGED_SINCE_VERDICT = (
    # Round-13 slate (refreshed from CORRECTNESS_r12 via
    # tools/verify_slate.py --refresh at round start): the 90 keys whose
    # round-12 edits still lack a post-change driver verdict — the r12
    # 50-key sample covered the first 50 of 110 flagged keys. Ordered
    # risk-first: (1) real plan rewrites (shingle-pass sharing,
    # incremental-join commit-then-reread), (2) forced corpus-growing
    # broadcast-hint removals (result-invariant strategy edits),
    # (3) module/deps-hash co-flags (callables and oracles untouched).
    # All were locally hash-verified vs the DuckDB oracle in round 12
    # (OPTIMIZATION_r12.md); round-13 changes append below.
    "q_dedup_containment",
    "q_dedup_jaccard_prefix",
    "q_dedup_threshold_sweep",
    "q_doc_novelty",
    "q_incremental_join_view",
    # ---- Round-13 tie-order batch (r12 queue item 2): ORDER BY /
    # window-order totalization in engine+oracle lockstep; re-verified
    # hash-green at sf0.001/0.01/0.1 this round.
    "q_preview_limit",
    "q_fifo_allocation",
    "q_array_hof_predicates",
    # ---- Round-13 graph-family pair-build rewrite (operators/graph.py
    # co_order_pairs: within-order self-join -> basket-array explode;
    # q_basket_pairs multiset twin; q_basket_rules stages the basket
    # grain once). Real-rewrite keys verified hash-green at
    # sf0.001/0.01/0.1 this round:
    "q_basket_pairs",
    "q_basket_rules",
    "q_khop_reach",
    "q_part_triangles",
    "q_pagerank",
    "q_graph_neighbor_jaccard",
    "q_label_propagation",
    "q_item_cf",
    "q_recursive_reach",
    "q_cohort_ltv",
    "q_did_uplift",
    "q_dq_fk_orphans",
    "q_feature_hash_audit",
    "q_gini_concentration",
    "q_hhi_concentration",
    "q_lorenz_curve",
    "q_pareto_frontier",
    "q_price_relatives",
    "q_price_volume_bridge",
    "q_segment_migration",
    "q_supplier_scorecard",
    "q_target_encoding",
    "q_tpch_q11",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q2",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q5",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_wilson_ranking",
    "q_abc_classification",
    "q_bloom_join",
    "q_bot_regularity",
    "q_chunk_coverage_audit",
    "q_cumulative_distinct",
    "q_customer_rfm",
    "q_dict_candidates",
    "q_dq_benford",
    "q_dq_category_drift",
    "q_dq_expectations",
    "q_dq_freshness",
    "q_dq_outlier_mad",
    "q_dq_route_quarantine",
    "q_dq_temporal_consistency",
    "q_dq_type_inference",
    "q_dq_uniqueness",
    "q_ema",
    "q_events_attribution",
    "q_forecast_backtest",
    "q_heavy_hitters",
    "q_inverted_index",
    "q_join_asof",
    "q_join_broadcast",
    "q_join_inner",
    "q_join_outer",
    "q_join_semi_anti",
    "q_l_diversity",
    "q_minhash_accuracy",
    "q_new_vs_returning",
    "q_period_growth",
    "q_regr_slope",
    "q_revenue_bridge",
    "q_scan_api_source",
    "q_scan_binaryfile",
    "q_seasonal_anomaly",
    "q_semdedup",
    "q_sequence_match",
    "q_session_cooccurrence",
    "q_set_except",
    "q_set_intersect",
    "q_set_union",
    "q_sort_multi",
    "q_source_coverage",
    "q_sparse_dot_topk",
    "q_stream_heavy_hitters",
    "q_stream_quantiles",
    "q_time_travel",
    "q_topk",
    "q_tpch_q10",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_tpch_q19",
    "q_tpch_q22",
    "q_tpch_q3",
    "q_tpch_q4",
    "q_tpch_q6",
    "q_weighted_median",
    "q_word_burstiness",
    # ---- Round-13 module/deps co-flags of the tie-order batch and
    # the incremental-join machinery edit (callables and oracles
    # untouched; all re-verified hash-green at sf0.01 this round).
    "q_agg_unpivot",
    "q_cast",
    "q_dedup_clusters",
    "q_events_anomaly",
    "q_explode_outer",
    "q_filter_pred",
    "q_groupwise_argmax",
    "q_join_bucketed",
    "q_label_balance",
    "q_oov_rate",
    "q_profile_histogram",
    "q_project",
    "q_rowcount",
    "q_scan_csv",
    "q_scan_json",
    "q_scan_orc",
    "q_scan_parquet",
    "q_scan_partition_pruned",
    "q_skew_salted_agg",
    "q_skew_salted_join",
    "q_stratified_cap",
    "q_text_ngrams",
    "q_try_divide",
    # ---- Round-13 module/deps co-flags of the graph pair-build
    # rewrite (callables and oracles untouched; re-verified hash-green
    # at sf0.01 this round).
    "q_changepoint_cusum",
    "q_dow_seasonality",
    "q_fd_discovery",
    "q_interpolate_hourly",
    "q_join_asof_fwd",
    "q_revenue_trend",
    "q_roc_auc",
    "q_seasonal_decompose",
    "q_skew_report",
    "q_type_weekday_chisq",
    # ---- Epoch-snapshot stores routed through streaming/snapshots.py
    # (one commit/read/prune module). q_neardup_registry's callable now
    # reads its accepted epochs through snapshots.read_all_snapshots;
    # the rest are module/deps co-flags (extras6 co-residents and
    # importers of streaming.rollup). Store keys re-verified hash-green
    # at sf0.001/0.01/0.1.
    "q_dedup_registry",
    "q_neardup_registry",
    "q_embedding_quantize",
    "q_order_cadence",
    "q_percentile_bands",
    "q_sample_weighted",
    "q_time_to_convert",
    "q_events_top_paths",
    "q_gaps_islands",
    "q_rollup_partials",
    "q_text_tfidf_top",
    "q_time_weighted_avg",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so verification coverage rotates across driver rounds (the
    driver records verdicts for a prefix of this dict): keys whose last
    verdict failed come first, never-checked keys next (registration
    order), already-green keys last ORDERED BY VERDICT VINTAGE — the
    keys whose latest verdict is oldest re-verify first, so no key's
    verdict goes stale while the per-round budget keeps re-checking
    recent ones. Pure reordering — the key set is exactly
    ``registry.QUERIES``.
    """
    verdicts = _latest_verdicts()
    qs = registry.QUERIES
    failed = {k: f for k, f in qs.items() if k in verdicts and not verdicts[k][0]}
    # Within never-checked: oracle-backed keys (full hash check) before
    # rows-only keys (weaker check) — if the driver's per-round budget cuts
    # off mid-list, the stronger checks land first.
    unchecked_oracle = {
        k: f
        for k, f in qs.items()
        if k not in verdicts and k in registry.ORACLE
    }
    unchecked_rows_only = {
        k: f
        for k, f in qs.items()
        if k not in verdicts and k not in registry.ORACLE
    }
    # Keys PROMOTED to oracle-backed since their last verdict (latest
    # record is the weaker rows-only kind but the key now carries an
    # oracle) re-verify before vintage-ordered greens: their claimed
    # contract is stronger than their recorded evidence, so they'd
    # otherwise wait behind the whole r1/r2 tail for a hash verdict.
    promoted_keys = sorted(
        (
            k
            for k in qs
            if k in verdicts
            and verdicts[k][0]
            and verdicts[k][2]
            and k in registry.ORACLE
        ),
        key=lambda k: verdicts[k][1],
    )
    promoted = {k: qs[k] for k in promoted_keys}
    # Keys whose OUTPUT CONTRACT changed since their latest verdict
    # (schema or hash-gated semantics edited in this round's source)
    # also re-verify ahead of the vintage queue — the recorded verdict
    # describes a shape the code no longer produces, which is the
    # "promoted-but-stale" evidence gap in another guise. Maintained by
    # hand per round, emptied once the driver re-records them.
    changed = {
        k: qs[k]
        for k in _CHANGED_SINCE_VERDICT
        if k in qs and k in verdicts and k not in promoted
    }
    green_keys = sorted(
        (
            k
            for k in qs
            if k in verdicts
            and verdicts[k][0]
            and k not in promoted
            and k not in changed
        ),
        key=lambda k: verdicts[k][1],  # oldest vintage first; stable
    )
    green = {k: qs[k] for k in green_keys}
    return {
        **failed,
        **unchecked_oracle,
        **unchecked_rows_only,
        **promoted,
        **changed,
        **green,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each SQL-expressible query."""
    return dict(registry.ORACLE)
