"""Scale probe: measure how the Tier-C heavy operators behave under a
data scale-up (VERDICT r02 item 8).

The driver's fixture generator is not available locally, so this probe
generates its OWN deterministic corpus (seed 42) with characteristics
matched to the driver fixtures (word-pool text, 5 langs, 44-580 char
lengths, ~1% exact-dup + ~2% near-dup rate, 64-dim label-clustered
embeddings).

Two probe families, because they have different true complexity:

- LINEAR family (fingerprint/cap-bounded shuffles: normalized dedup,
  capped contamination, minhash banding, corpus routing) measured at
  10× — wall ratio ≈ 10 (minus fixed overhead) confirms linearity.
- PAIRWISE family (exact blocked pair joins: fuzzy match, similarity
  join, cluster resolution over fuzzy edges) measured at 3× — these are
  Σ|block|² BY CONSTRUCTION: block count is fixed (langs × length
  buckets, labels), so block population grows with the corpus and pair
  counts grow quadratically. Expected wall ratio ≈ 9 at 3×. This is the
  exact operator's honest cost; the corpus-scale mitigation is the LSH/
  MinHash banding path (bucket-capped) or an extra stratification key —
  both already in the repo. A first 10× attempt confirmed the quadratic
  family dominates (run exceeded its 10-minute budget), which is why the
  factors differ.

Usage: python tools/scale_probe.py [--small N]
Writes nothing outside /root/repo/.scratch; prints JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORDS = (
    "spark batch part line column order small sort fast value scan query "
    "agg table hash slow filter customer stream key group vector join "
    "shuffle plan stage task row page merge index cache disk memory node "
    "broad narrow wide skew salt bucket band gram token"
).split()

LANGS = ["en", "en", "en", "en", "es", "de", "fr", "zh"]  # en-heavy mix
EMB_DIM = 64
N_LABELS = 10

LINEAR_PROBES = [
    "q_dedup_normalized",
    "q_contamination",
    "q_dedup_minhash",
    "q_corpus_build",
    "q_text_tfidf_top",
    # round-4 additions (VERDICT r03 item 5)
    "q_text_repetition",
    "q_events_top_paths",
    # round-4 batch-2 additions: MG heavy hitters (one summary pass +
    # candidate-only exact agg), sequence regex over per-user-day
    # strings, per-user sequential EMA, and the four-codec pixel decode
    # (pure per-row work inside mapInPandas) — all expected ~linear
    "q_heavy_hitters",
    "q_sequence_match",
    "q_ema",
    "q_multimodal_features",
    # round-5 additions (VERDICT r04 item 8): post-fix two-phase prefix
    # sum, span-hash dedup, and the pre-aggregated bigram model — all
    # expected ~linear (bounded explodes + map-side partial aggregates)
    "q_pack_context",
    "q_dedup_substring",
    "q_text_bigram_coherence",
    # round-5 batch-3 additions: posting-list build and head-vocab
    # coverage are counted-grain aggregates (~linear); the prefix-
    # filtered Jaccard join is candidate-bounded and the probe corpus
    # keeps the dup rate fixed, so candidates — and wall — stay ∝ n
    "q_inverted_index",
    "q_source_coverage",
    "q_dedup_jaccard_prefix",
    # round-5 batch-4 additions: interpolation's ordered pass is over
    # the bounded calendar (constant), the forward as-of is one
    # user-partitioned window — both expected ~flat-to-linear
    "q_interpolate_hourly",
    "q_join_asof_fwd",
    # round-5 batch-5 additions: both are counted-grain aggregates with
    # broadcast scalars/marginals — expected ~flat-to-linear
    "q_revenue_trend",
    "q_type_weekday_chisq",
    # round-5 batch-6 additions: phrase search prunes postings to the
    # two phrase terms; posting gaps are one term-partitioned window
    "q_phrase_search",
    "q_posting_gaps",
    # round-5 batch-7 addition: per-user aggregate + bounded timeline
    "q_survival_km",
    # round-5 batch-10 additions: per-user windows/aggregates only
    "q_ab_test",
    "q_sessionize",
    # collocations: one tokenize pass, counted grains, bounded top-k
    "q_term_collocations",
    # continuous quantiles: rollup partials over domain-bounded buckets
    "q_stream_quantiles",
    # hygiene closers: narrow per-row regex map / one counted grain
    "q_pii_redact",
    "q_langid_confusion",
    # cluster-size histogram: fingerprint grain + bounded rollup
    "q_dedup_cluster_sizes",
    # round-6 batch-2 additions: PQ's codes scan + bounded codebook
    # state; dHash's banded pigeonhole self-join (candidates ∝ planted
    # dup rate, constant bucket collision odds) — both expected ~linear
    "q_embedding_pq",
    "q_image_dhash",
]

# TPC-H-table probes: timed on the driver fixtures at sf0.01 vs sf0.1
# (a true 10× of the same generator). Covers the round-5 de-serialized
# plans (RFM cut points, bucketed Pareto envelope) and the FK-orphan
# audit's broadcast-parent joins.
FIXTURE_PROBES = ["q_dq_fk_orphans", "q_customer_rfm", "q_pareto_frontier",
                  # degree-oriented triangle join over the support-
                  # filtered co-order graph (edge count ~ orders)
                  "q_part_triangles",
                  # frontier joins bounded by |V| via per-hop dedup
                  "q_khop_reach",
                  # basket self-join bounded by per-order line counts
                  "q_basket_rules",
                  # one full-outer key shuffle + per-verdict rollup
                  "q_table_diff",
                  # keyed range join against SCD2 validity ranges
                  "q_join_pit",
                  # one moment pass broadcast over rows
                  "q_feature_scale",
                  # broadcast cutoff + 4-bucket rollup
                  "q_orders_aging",
                  # 3 Pregel iterations over a checkpointed adjacency
                  "q_pagerank",
                  # per-candidate det-key groupBys reduced to scalars
                  "q_fd_discovery",
                  # day-grain collapse then bounded-calendar window
                  "q_changepoint_cusum",
                  # 7-row grid + broadcast total
                  "q_dow_seasonality",
                  # key-grain counts + broadcast stats + top-10
                  "q_skew_report",
                  # broadcast key-set semi/anti cascade + scalar reports
                  "q_gdpr_erasure",
                  # broadcast bounds + partial-aggregated split counts
                  "q_split_temporal",
                  # fact-fact key join collapsed to supplier grain
                  "q_supplier_scorecard",
                  # day-grain collapse + broadcast weekday profile
                  "q_seasonal_anomaly",
                  # one pushed-range scan + one customer-grain shuffle
                  "q_revenue_bridge",
                  # 3 CDC epoch merges (|state|+|batch| each) + keyed diff
                  "q_time_travel",
                  # calendar-bounded day grain + one day-key self-join
                  "q_forecast_backtest",
                  # 2 broadcast-semi bloom probes + broadcast dim join
                  "q_bloom_join",
                  # value-grain collapse then per-flag ordered pass
                  "q_weighted_median",
                  # basket-bounded pair grain + broadcast freq join-backs
                  "q_item_cf",
                  # one running-count window + keyed purchase⋈touch join
                  "q_attribution_linear",
                  # probe-side-bounded block join + per-probe rank
                  "q_entity_resolution",
                  # one tokenize pass, query-bounded tf branch, TakeOrdered
                  "q_text_bm25",
                  # two broadcast-query ranker scans + bounded 20-row fuse
                  "q_rrf_fusion",
                  # value-grain collapse + two-phase bucketed running sum
                  "q_histogram_equidepth",
                  # key-grain count + broadcast total + top-10
                  "q_join_size_estimate",
                  # lang-grain quotas broadcast + partitioned rank window
                  "q_sample_temperature",
                  # one QI-grain shuffle to a bounded size-bucket report
                  "q_k_anonymity",
                  # per-type running-max window + broadcast delay grid
                  "q_watermark_audit",
                  # one key join + one conditional-counter aggregate pass
                  "q_ship_sla",
                  # one tokenize pass + counted-grain word stats + top-20
                  "q_text_keyphrase",
                  # narrow fold-and-classify scan + bounded band rollup
                  "q_embedding_norm_audit",
                  # wedge enumeration (triangles class) + anti join
                  "q_graph_neighbor_jaccard",
                  # day-grain collapse + calendar-bounded windows
                  "q_seasonal_decompose",
                  # parallel Range source + narrow derivations + rollup
                  "q_generate_synthetic",
                  # per-type rank windows + one-row-per-type bounds
                  "q_percentile_cont",
                  # rare-capped posting joins + partial-aggregated pairs
                  "q_sparse_dot_topk",
                  # two-phase bucketed rank + full-outer key join
                  "q_segment_migration",
                  # broadcast median frame + narrow coalesce repair
                  "q_impute_missing",
                  # value-grain caps + broadcast clamp
                  "q_winsorize",
                  # one unioned stream + two user-partitioned windows
                  "q_join_asof_nearest",
                  # one tokenize pass + counted grain + broadcast totals
                  "q_trending_terms",
                  # native recursive CTE: keyed join per level, depth-bounded
                  "q_recursive_reach",
                  # one keyed fact join + broadcast dims + tiny-grain totals
                  "q_share_of_parent",
                  # one-scan conditional-counter aggregate
                  "q_null_semantics",
                  # span-hash self-join + bounded top-pair islands pass
                  "q_dedup_explain",
                  # two per-supplier windows, closed-form reflection
                  "q_inventory_floor",
                  # bounded 168-cell grid + broadcast total
                  "q_events_heatmap",
                  # broadcast probe grid + (probe, customer) rank window
                  "q_bitemporal",
                  # label-grain count + broadcast scalar
                  "q_class_weights",
                  # means pass + one centered-moment scan
                  "q_corr_matrix",
                  # broadcast probe grid + one counter pass
                  "q_value_percentile",
                  # per-supplier windows + banded interval-overlap join
                  "q_fifo_allocation",
                  # (month, file)-grain agg + per-month running-bytes window
                  "q_compaction_bins",
                  # per-file zone verdicts + pushed-range recount
                  "q_zone_map_prune",
                  # broadcast group means + one moment pass per flag
                  "q_regr_slope",
                  # two-phase bucketed rank + nation-grain rollup
                  "q_gini_concentration",
                  # category-grain agg + broadcast 1-row global
                  "q_target_encoding",
                  # cell/marginal counts, marginals broadcast back
                  "q_assoc_pmi",
                  # day-grain series, lag explode, equi-join
                  "q_autocorrelation",
                  # one struct-min/max aggregate at bar grain
                  "q_ohlc_bars",
                  # bucket-grain ECDFs, two-phase prefix sums, TakeOrdered
                  "q_ks_drift",
                  # broadcast means + one moment scan of the vector column
                  "q_embedding_covariance",
                  # 2x2 cell aggregate over fact x broadcast dim
                  "q_did_uplift",
                  # one QI-key shuffle with two-level distinct expand
                  "q_l_diversity",
                  # value-grain collapse + two-phase banded prefix sum
                  "q_roc_auc",
                  # 3 unrolled keyed joins + min aggregates
                  "q_label_propagation",
                  # per-key lead window + rollup + TakeOrdered
                  "q_retention_sweep",
                  # 3 bucket-grain counts collapsed to 1-row summaries
                  "q_partition_advisor",
                  # Arrow-batched synth + digest-grain dedup groupBys
                  "q_media_dedup",
                  # supplier-grain agg -> nation rollup, dim broadcast
                  "q_hhi_concentration",
                  # min agg + same-key join-back + month rollup
                  "q_new_vs_returning",
                  # pushed range scan + brand-grain conditional agg
                  "q_price_volume_bridge",
                  # per-user lag window + raw-moment agg + TakeOrdered
                  "q_bot_regularity",
                  # broadcast probe panel + centroid equi-join ANN eval
                  "q_ann_recall_at_k",
                  # one keyed fact join + month-grain rollup
                  "q_dq_temporal_consistency",
                  # user-grain count -> value-grain cumulative crossing
                  "q_pareto_8020",
                  # page-partitioned lag windows + per-column scalar agg
                  "q_encoding_advisor",
                  # fact-fact equi-join + month-grain partial agg
                  "q_business_days",
                  # day-grain collapse + bounded pairwise sign join
                  "q_mann_kendall",
                  # supplier-grain agg + broadcast dim + top-25
                  "q_wilson_ranking",
                  # two-phase banded rank -> 10 decile rows
                  "q_lorenz_curve",
                  # asymmetric prefix filter -> posting join -> verify
                  "q_dedup_containment",
                  # map-side gram explode + gram-grain count + top-50
                  "q_dict_candidates",
                  # key-grain LEFT-join count + multiplicity collapse
                  "q_join_fanout_audit",
                  # one category-grain conditional aggregate, single scan
                  "q_sample_bias_audit",
                  # per-user lag/cumsum windows + bounded pair fan-out
                  "q_session_cooccurrence",
                  # feature-grain collapse + 150-row collision groupBy
                  "q_feature_hash_audit",
                  # one distinct-count aggregate per candidate key
                  "q_sort_key_whatif",
                  # per-order pair join + part-grain degree histogram
                  "q_degree_distribution",
                  # distinct (user,week) grain + wk±1 self-joins
                  "q_growth_accounting",
                  # first-seen grain + bounded checkpoint range join
                  "q_vocab_growth",
                  # (brand,month) cell aggregate + tiny join-backs
                  "q_price_relatives",
                  # (word,doc) grain -> word-grain integer raw moments
                  "q_word_burstiness",
                  # two-phase banded descending rank -> 3 class rows
                  "q_abc_classification",
                  # shingle first-seen MIN + join-back + source rollup
                  "q_doc_novelty",
                  # two month-grain aggregates -> integer raw moments
                  "q_bullwhip",
                  # page-grain MIN/MAX per column -> scalar rollups
                  "q_clustering_depth",
                  # two-phase banded histogram + one conditional-agg pass
                  "q_selectivity_audit",
                  # ONE aggregate pass over documents, no explode
                  "q_dataset_card",
                  # closed-form integer expressions + source rollup
                  "q_chunk_coverage_audit",
                  # 0.7-prefix postings join + one conditional collapse
                  "q_dedup_threshold_sweep",
                  # Arrow-batched BPE kernel + lang-grain aggregate
                  "q_tokenizer_fertility",
                  # word-grain integer raw moments + broadcast scalar
                  "q_stopword_discovery",
                  # key-grain line agg + LEFT join + decade rollup
                  "q_ledger_reconciliation",
                  # per-key lead window + key-grain aggregate
                  "q_scd2_integrity",
                  # value-grain count + scalar collapse per column
                  "q_feature_screen",
                  # custkey equi self-join + day residual + top-25
                  "q_double_payment",
                  # IVF+PQ index build (narrow kernels + dim-grain
                  # aggregates) + code-only ADC scan of probed lists
                  "q_ann_ivfadc",
                  # distinct-key-value shuffle + metadata-sized unions
                  "q_catalog_graph",
                  # per-level broadcast joins over metadata edges
                  "q_catalog_graph_impact",
                  # one-scan row-local flags + md5 window + 1-row collapse
                  "q_filter_cascade",
                  # source-grain partial agg + bounded-grain windows
                  "q_token_budget",
                  # broadcast scalar + priority-grain moment scan
                  "q_ols_trend",
                  # one Gram partial per partition + 64x64 driver solve
                  "q_embedding_pca",
                  # broadcast scalar max + month-grain partial agg
                  "q_retention_plan",
                  # value-grain partial counts per candidate key
                  "q_bucket_advisor",
                  # one segment-partitioned window + bounded top-200
                  "q_window_nth",
                  # bounded-domain counts + rank over the tiny frame
                  "q_agg_mode",
                  # round-8 batches 61-63
                  "q_window_cume_dist", "q_window_ntile",
                  "q_set_intersect_all", "q_set_except_all",
                  "q_explode_pos", "q_join_null_safe",
                  "q_rolling_active_users", "q_type_user_overlap",
                  "q_text_hashing_features", "q_events_burst_minutes",
                  "q_pivot_multi_agg", "q_grouping_id",
                  "q_embedding_dedup_bitexact",
                  # round-8 batch 64
                  "q_sessionize_twophase", "q_window_ignore_nulls",
                  "q_histogram_bins",
                  # round-8 batch 65
                  "q_explode_outer", "q_array_hof_predicates",
                  "q_try_divide", "q_oov_rate", "q_label_balance",
                  # round-8 batch 66
                  "q_table_checksum", "q_doc_compression_ratio",
                  # round-9 batch 67
                  "q_join_lateral", "q_tablesample_stable",
                  "q_window_qualify",
                  # round-9 batch 68
                  "q_distinct_on", "q_agg_filter", "q_string_agg",
                  "q_percentile_within_group",
                  # round-9 batch 69
                  "q_window_exclude", "q_pii_redact_injected",
                  # round-9 batch 70
                  "q_ann_two_stage", "q_ann_mrl_ablation",
                  # round-9 batch 71
                  "q_window_groups_mode"]
# q_sim_join_lsh has a FIXED bucket grid (4 tables × 4 bits), so bucket
# population — and candidate pairs — grow with n: pairwise family. The
# corpus-scale mitigation is more bits/tables (bucket count ∝ n) — the
# `bits` knob measured here at the default.
PAIRWISE_PROBES = ["q_fuzzy_match", "q_sim_join", "q_dedup_clusters",
                   "q_sim_join_lsh"]


def gen_documents(n: int, rng: np.random.RandomState) -> pa.Table:
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        target = int(rng.randint(44, 580))
        ws: list[str] = []
        ln = 0
        while ln < target:
            w = WORDS[rng.randint(0, len(WORDS))]
            ws.append(w)
            ln += len(w) + 1
        t = " ".join(ws)
        # ~1% exact duplicates, ~2% near-duplicates (one word swapped) —
        # matched to the driver fixture's low dup rate so cluster/pair
        # counts stay proportional to n, the property the probe measures.
        if i > 10 and rng.rand() < 0.01:
            t = texts[int(rng.randint(0, i))]
        elif i > 10 and rng.rand() < 0.02:
            base = texts[int(rng.randint(0, i))].split(" ")
            base[int(rng.randint(0, len(base)))] = WORDS[
                rng.randint(0, len(WORDS))
            ]
            t = " ".join(base)
        texts.append(t)
        langs.append(LANGS[rng.randint(0, len(LANGS))])
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_events(n: int, rng: np.random.RandomState) -> pa.Table:
    """Events matched to the driver fixture shape (user sessions with a
    heavy-head event-type mix): ~n/50 users, 30-day window, µs
    timestamps (no NANOS complication in the probe's own data)."""
    import datetime as dt

    n_users = max(n // 50, 5)
    types = ["view", "view", "view", "click", "click", "cart",
             "purchase", "signup", "error"]
    base = dt.datetime(2024, 1, 1)
    ts = [
        base + dt.timedelta(seconds=int(rng.randint(0, 30 * 86400)),
                            microseconds=int(rng.randint(0, 1_000_000)))
        for _ in range(n)
    ]
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.randint(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(
                [types[i] for i in rng.randint(0, len(types), size=n)]
            ),
            "value": pa.array(
                np.round(rng.rand(n) * 200, 2), pa.float64()
            ),
            "props": pa.array(['{"k": %d}' % i for i in rng.randint(0, 100, size=n)]),
        }
    )


def gen_embeddings(n: int, rng: np.random.RandomState) -> pa.Table:
    centers = rng.randn(N_LABELS, EMB_DIM).astype(np.float32)
    labels = rng.randint(0, N_LABELS, size=n)
    vecs = centers[labels] + 0.3 * rng.randn(n, EMB_DIM).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v for v in vecs.astype(np.float32).tolist()],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=5000)
    ap.add_argument(
        "--only",
        type=str,
        default="",
        help="comma-separated probe names; skips steady-state probes",
    )
    ap.add_argument(
        "--steady",
        type=str,
        default="",
        help="comma-separated steady-state probe names to run (overrides"
        " the --only skip)",
    )
    args = ap.parse_args()
    only = {q for q in args.only.split(",") if q}

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.join(here, ".scratch", "scaleprobe")
    shutil.rmtree(root, ignore_errors=True)

    steady_only = bool(args.steady) and args.only == "none"
    sizes = (
        {}
        if steady_only  # steady probes build their own state
        else {
            "small": args.small,
            "mid": args.small * 3,
            "large": args.small * 10,
        }
    )
    dirs: dict[str, str] = {}
    for name, n in sizes.items():
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        rng = np.random.RandomState(42)  # same seed per size
        pq.write_table(gen_documents(n, rng), os.path.join(d, "documents.parquet"))
        pq.write_table(
            gen_embeddings(max(n * 2 // 5, 100), rng),
            os.path.join(d, "embeddings.parquet"),
        )
        pq.write_table(
            gen_events(n * 2, rng), os.path.join(d, "events.parquet")
        )
        dirs[name] = d

    from self_healing_data_pipeline_spark.registry import QUERIES, load_all
    from self_healing_data_pipeline_spark.session import get_spark

    load_all()
    spark = get_spark("scale_probe")
    if dirs:
        # Warm: JVM codegen + Python UDF workers (per-process cost).
        QUERIES["q_sim_join"](spark, dirs["small"]).write.format("noop").mode(
            "overwrite"
        ).save()
    else:
        spark.range(100).count()

    def timed(q: str, name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[q](spark, dirs[name]).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 2)

    result: dict[str, dict[str, float | str]] = {}
    linear = [q for q in LINEAR_PROBES if not only or q in only]
    pairwise = [q for q in PAIRWISE_PROBES if not only or q in only]
    for q in linear:
        times: dict[str, float | str] = {
            "small": timed(q, "small"),
            "large": timed(q, "large"),
            "factor": 10,
        }
        times["ratio"] = round(times["large"] / max(times["small"], 1e-9), 2)
        times["family"] = "linear"
        result[q] = times
        print(json.dumps({q: times}), flush=True)
    for q in pairwise:
        times = {
            "small": timed(q, "small"),
            "mid": timed(q, "mid"),
            "factor": 3,
        }
        times["ratio"] = round(times["mid"] / max(times["small"], 1e-9), 2)
        times["family"] = "pairwise(Σ|block|²; expect ≈9 at 3×)"
        result[q] = times
        print(json.dumps({q: times}), flush=True)

    fixture_sfs = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    fixture = [
        q
        for q in FIXTURE_PROBES
        if (not only or q in only) and all(os.path.isdir(d) for d in fixture_sfs)
    ]
    for q in fixture:

        def timed_dir(qname: str, d: str) -> float:
            t0 = time.perf_counter()
            QUERIES[qname](spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 2)

        times = {
            "small": timed_dir(q, fixture_sfs[0]),
            "large": timed_dir(q, fixture_sfs[1]),
            "factor": 10,
        }
        times["ratio"] = round(times["large"] / max(times["small"], 1e-9), 2)
        times["family"] = "linear (driver fixtures sf0.01 -> sf0.1)"
        result[q] = times
        print(json.dumps({q: times}), flush=True)

    # --- CDC / rollup STEADY-STATE probe (VERDICT r03 item 5) ---
    # Fixed-size change batch applied against a 1× and a 10× state: the
    # steady-state cost of a batch is the full-outer join + snapshot
    # rewrite, both ∝ |state|; ratio ≈ 10 (minus fixed overhead)
    # confirms the expected linear-in-state behavior (and that nothing
    # accidentally rescans history — epochs are read, not re-merged).
    import shutil as _sh

    from pyspark.sql import functions as SF
    from self_healing_data_pipeline_spark.streaming.cdc import (
        apply_changes_batch,
    )
    from self_healing_data_pipeline_spark.streaming.rollup import (
        aggregate_batch,
        merge_rollup,
    )

    def cdc_steady(n_state: int, tag: str) -> float:
        sd = os.path.join(root, f"cdc_{tag}")
        _sh.rmtree(sd, ignore_errors=True)
        init = spark.range(n_state).select(
            SF.lit("upsert").alias("op"),
            SF.col("id"),
            SF.lit(1).cast("long").alias("seq"),
            SF.concat(SF.lit("name-"), SF.col("id")).alias("name"),
        )
        apply_changes_batch(spark, init, sd, "id", "seq", epoch_id=0)
        batch = spark.range(2000).select(
            SF.when(SF.col("id") % 10 == 0, "delete")
            .otherwise("upsert")
            .alias("op"),
            (SF.col("id") * 7 % n_state).alias("id"),
            SF.lit(2).cast("long").alias("seq"),
            SF.concat(SF.lit("upd-"), SF.col("id")).alias("name"),
        )
        t0 = time.perf_counter()
        apply_changes_batch(spark, batch, sd, "id", "seq", epoch_id=1)
        return round(time.perf_counter() - t0, 2)

    def rollup_steady(n_state_keys: int, tag: str) -> float:
        sd = os.path.join(root, f"rollup_{tag}")
        _sh.rmtree(sd, ignore_errors=True)
        init = spark.range(n_state_keys * 20).select(
            (SF.col("id") % n_state_keys).alias("k"),
            (SF.col("id") % 97).cast("double").alias("value"),
        )
        merge_rollup(
            spark,
            aggregate_batch(init, (SF.col("k") % 30).alias("b"), ["k"], "value"),
            sd,
            ["k"],
            epoch_id=0,
        )
        batch = spark.range(2000).select(
            (SF.col("id") * 13 % n_state_keys).alias("k"),
            (SF.col("id") % 89).cast("double").alias("value"),
        )
        partials = aggregate_batch(
            batch, (SF.col("k") % 30).alias("b"), ["k"], "value"
        )
        t0 = time.perf_counter()
        merge_rollup(spark, partials, sd, ["k"], epoch_id=1)
        return round(time.perf_counter() - t0, 2)

    from pyspark.sql import types as JT
    from self_healing_data_pipeline_spark.streaming.incremental_join import (
        apply_fact_dim_delta_batch,
    )

    def join_view_steady(n_state: int, tag: str) -> float:
        """Fixed-size mixed delta applied against a 1x/10x fact store +
        materialized view: steady-state batch cost is |delta| joins plus
        the anti-join + snapshot rewrite, all proportional to |state| --
        ratio ~10 (minus fixed overhead) confirms no history rescans
        and no standing-join recompute."""
        sd = os.path.join(root, f"ijoin_{tag}")
        _sh.rmtree(sd, ignore_errors=True)
        n_dims = max(n_state // 20, 10)
        kw = dict(
            fact_key="fid", fact_fk="fk", dim_key="did",
            fact_cols=["fid", "fk", "val"], dim_cols=["did", "attr"],
        )
        init = spark.range(n_state).select(
            SF.lit("fact").alias("side"), SF.lit("upsert").alias("op"),
            SF.lit(1).cast("long").alias("seq"),
            SF.col("id").alias("fid"),
            (SF.col("id") % n_dims).alias("fk"),
            (SF.col("id") % 97).alias("val"),
            SF.lit(None).cast("long").alias("did"),
            SF.lit(None).cast("string").alias("attr"),
        ).unionByName(
            spark.range(n_dims).select(
                SF.lit("dim").alias("side"), SF.lit("upsert").alias("op"),
                SF.lit(1).cast("long").alias("seq"),
                SF.lit(None).cast("long").alias("fid"),
                SF.lit(None).cast("long").alias("fk"),
                SF.lit(None).cast("long").alias("val"),
                SF.col("id").alias("did"),
                SF.concat(SF.lit("a-"), SF.col("id")).alias("attr"),
            )
        )
        apply_fact_dim_delta_batch(spark, init, sd, epoch_id=0, **kw)
        batch = spark.range(1000).select(
            SF.lit("fact").alias("side"), SF.lit("upsert").alias("op"),
            SF.lit(2).cast("long").alias("seq"),
            (SF.col("id") * 7 % n_state).alias("fid"),
            (SF.col("id") % n_dims).alias("fk"),
            (SF.col("id") % 89).alias("val"),
            SF.lit(None).cast("long").alias("did"),
            SF.lit(None).cast("string").alias("attr"),
        ).unionByName(
            spark.range(20).select(
                SF.lit("dim").alias("side"), SF.lit("upsert").alias("op"),
                SF.lit(2).cast("long").alias("seq"),
                SF.lit(None).cast("long").alias("fid"),
                SF.lit(None).cast("long").alias("fk"),
                SF.lit(None).cast("long").alias("val"),
                (SF.col("id") * 3 % n_dims).alias("did"),
                SF.concat(SF.lit("b-"), SF.col("id")).alias("attr"),
            )
        )
        t0 = time.perf_counter()
        apply_fact_dim_delta_batch(spark, batch, sd, epoch_id=1, **kw)
        return round(time.perf_counter() - t0, 2)

    from self_healing_data_pipeline_spark.streaming.dedup_registry import (
        apply_dedup_batch,
    )
    from self_healing_data_pipeline_spark.streaming.neardup_registry import (
        apply_neardup_batch,
    )

    def dedup_registry_steady(n_state: int, tag: str) -> float:
        """Fixed 1k-doc batch against a 1x/10x fingerprint registry:
        steady-state batch cost is the anti-join + registry rewrite,
        both ∝ |registry|. The registry is SEEDED directly (signature
        table committed as epoch 0) — the probe measures the steady batch
        apply, not first-time ingestion."""
        from self_healing_data_pipeline_spark.streaming.dedup_registry import (
            fingerprint,
        )
        from self_healing_data_pipeline_spark.streaming.snapshots import (
            commit_snapshot,
        )

        sd = os.path.join(root, f"dreg_{tag}")
        _sh.rmtree(sd, ignore_errors=True)
        rdir, adir = os.path.join(sd, "reg"), os.path.join(sd, "acc")
        seed = spark.range(n_state).select(
            SF.col("id").alias("doc_id"),
            SF.concat(SF.lit("seed text body number "), SF.col("id")).alias(
                "text"
            ),
        ).select(
            fingerprint("text").alias("fp"),
            SF.col("doc_id").alias("first_id"),
            SF.lit(0).cast("long").alias("first_epoch"),
        )
        commit_snapshot(seed, rdir, 0)
        batch = spark.range(1000).select(
            (SF.col("id") + n_state).alias("doc_id"),
            SF.when(
                SF.col("id") % 10 == 0,
                SF.concat(SF.lit("seed text body number "), SF.col("id")),
            )
            .otherwise(
                SF.concat(SF.lit("novel content item "), SF.col("id"))
            )
            .alias("text"),
        )
        t0 = time.perf_counter()
        apply_dedup_batch(spark, batch, rdir, adir, 1)
        return round(time.perf_counter() - t0, 2)

    def neardup_registry_steady(n_state: int, tag: str) -> float:
        """Fixed 300-doc batch against a 1x/10x signature registry: the
        (band, bucket) join + registry rewrite dominate, ∝ |registry|.
        The registry is SEEDED directly (signatures committed as epoch
        0) so the probe measures the steady batch apply."""
        from self_healing_data_pipeline_spark.operators.dedup import (
            minhash_signatures,
        )
        from self_healing_data_pipeline_spark.streaming.snapshots import (
            commit_snapshot,
        )

        sd = os.path.join(root, f"nreg_{tag}")
        _sh.rmtree(sd, ignore_errors=True)
        rdir, adir = os.path.join(sd, "reg"), os.path.join(sd, "acc")
        words = WORDS
        mk_text = SF.concat_ws(
            " ",
            *[
                SF.element_at(
                    SF.array(*[SF.lit(w) for w in words]),
                    ((SF.col("id") * (i + 7) + i * i) % len(words) + 1).cast(
                        "int"
                    ),
                )
                for i in range(40)
            ],
        )
        init = spark.range(n_state).select(
            SF.col("id").alias("doc_id"), mk_text.alias("text")
        )
        seed = minhash_signatures(init, "doc_id", "text").select(
            SF.col("__id").alias("doc_id"),
            SF.col("__sig").alias("sig"),
            SF.lit(0).cast("long").alias("first_epoch"),
        )
        commit_snapshot(seed, rdir, 0)
        batch = spark.range(300).select(
            (SF.col("id") + n_state).alias("doc_id"), mk_text.alias("text")
        )
        t0 = time.perf_counter()
        apply_neardup_batch(spark, batch, rdir, adir, 1)
        return round(time.perf_counter() - t0, 2)

    steady = (
        []
        if only
        else [
            ("cdc_apply_changes_steady_state", cdc_steady, args.small * 4),
            ("rollup_merge_steady_state", rollup_steady, args.small * 2),
            ("join_view_steady_state", join_view_steady, args.small * 4),
            ("dedup_registry_steady_state", dedup_registry_steady,
             args.small * 4),
            ("neardup_registry_steady_state", neardup_registry_steady,
             args.small),
        ]
    )
    if args.steady:
        wanted = {s for s in args.steady.split(",") if s}
        steady = [
            ("cdc_apply_changes_steady_state", cdc_steady, args.small * 4),
            ("rollup_merge_steady_state", rollup_steady, args.small * 2),
            ("join_view_steady_state", join_view_steady, args.small * 4),
            ("dedup_registry_steady_state", dedup_registry_steady,
             args.small * 4),
            ("neardup_registry_steady_state", neardup_registry_steady,
             args.small),
        ]
        steady = [s for s in steady if s[0] in wanted]
    for name_, fn, base in steady:
        times = {
            "small": fn(base, "small"),
            "large": fn(base * 10, "large"),
            "factor": 10,
            "state_rows_small": base,
        }
        times["ratio"] = round(times["large"] / max(times["small"], 1e-9), 2)
        times["family"] = "linear-in-state (steady-state batch apply)"
        result[name_] = times
        print(json.dumps({name_: times}), flush=True)

    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "small_docs": sizes.get("small", args.small),
                "results": result,
            }
        )
    )


if __name__ == "__main__":
    main()
