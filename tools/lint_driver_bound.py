"""Static census of DRIVER-SIDE materialization sites (round 12).

At 100 TB an unaudited ``.collect()`` / ``.toPandas()`` /
``.toLocalIterator()`` is a driver OOM: the cluster computes a
data-grain result and ships it to one process. Every such site in the
package must therefore be *bounded by construction* — a 1-row
aggregate, a ``limit(k)``/TakeOrdered head, a value-domain or
catalog-grain rollup, or a per-partition summary — and the bound must
be stated.

This lint walks the package AST, finds every driver-materialization
call, and requires each site to appear in :data:`AUDITED` with a
one-line boundedness justification. A NEW site (or one that moved to a
different enclosing function) fails CI until it is audited here — the
same discipline ``lint_scale.py`` applies to quadratic HOFs.

Round-12 census result: 30 sites, 28 bounded as written; 2 findings
fixed the same round —

* ``queries/similarity.py::ivfadc_per_probe`` collected an UNCAPPED
  n/50 probe panel (a corpus FRACTION, not a fixed eval workload) and
  looped a driver einsum per probe; capped to the first 40 sampled ids
  (the q_ann_two_stage discipline) — bit-identical at the driver SFs
  (panels were 10/10/40), O(1) driver state at any scale.
* ``queries/streams.py::q_neardup_registry`` collected EVERY accepted
  doc id (~n/4 rows) into a Python set purely to assert a set-equality
  witness; rewritten as two distributed key-only anti-joins + counts.

Second class, same discipline: PER-GROUP materializations
(``collect_list`` / ``collect_set``) build one aggregation buffer per
key on a single executor — one hot key = one fat buffer, the
executor-OOM twin of the driver collect. All 13 sites audited bounded
(:data:`AUDITED_GROUP`): caps applied BEFORE the collect (rank-16
nulls, gram df cap, bucket cap), natural grains (order width, 30-min
session, stopword-gap phrase, dimension tables), or the group being
the operator's required output with a measured adversarial tier
(semdedup's identical-vector groups).

Known adjacent class, deliberately out of scope here: EXECUTOR-side
broadcasts that scale with the corpus. Those are plan
shapes, not driver materializations; the sf1 probe tier and the plan
census own them.

Site keys are ``relpath::qualname#ordinal`` (driver class) or
``relpath::qualname@ordinal`` (group class) — the ordinal is the
call's index among same-class matches WITHIN that function, so line
drift never invalidates the audit but a new call in the same function
does.

Usage:
  python tools/lint_driver_bound.py             # lint; exit 1 on findings
  python tools/lint_driver_bound.py --list      # print the census
  python tools/lint_driver_bound.py --selftest  # seeded fixtures
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_ROOT = os.path.join(REPO, "self_healing_data_pipeline_spark")

#: Methods that materialize a distributed result on the driver.
DRIVER_CALLS = {"collect", "toPandas", "toLocalIterator"}

#: Aggregate functions that materialize a GROUP on one executor: an
#: unbounded per-group list is the executor-OOM twin of the driver
#: collect (one hot key = one fat aggregation buffer). Bounds here are
#: per-group, not global: a cap applied BEFORE the collect, a natural
#: grain (order width, stopword-gap phrase, 30-min session), or the
#: group being the operator's required output.
GROUP_CALLS = {"collect_list", "collect_set"}

#: Receivers that are never Spark DataFrames.
IGNORED_RECEIVERS = {"gc"}

#: site-key -> boundedness justification (audited round 12).
AUDITED: dict[str, str] = {
    # -------------------------------------------------- scalar / 1-row
    "plans/profiler.py::profile_dataframe#0": (
        "one aggregate row: per-column profile stats in a single pass"
    ),
    "plans/profiler.py::profile_dataframe#1": (
        "one aggregate row: numeric outlier counts, second cheap pass"
    ),
    "sources/writers.py::zorder_write#0": (
        "one aggregate row: per-column min/max for Morton bucketing"
    ),
    "queries/streams.py::q_stream_heavy_hitters#0": (
        "scalar max(event_id) — epoch cut points"
    ),
    "queries/streams.py::q_stream_quantiles#0": (
        "scalar max(event_id) — epoch cut points"
    ),
    "queries/streams.py::q_dedup_registry#0": (
        "scalar max(doc_id) — epoch cut points"
    ),
    "streaming/incremental_join.py::apply_join_delta_batch#0": (
        "distinct 'side' values of the delta batch — ≤2 rows at any "
        "batch size (round-13 one-pass side-presence probe)"
    ),
    "streaming/incremental_join.py::apply_fact_dim_delta_batch#0": (
        "distinct 'side' values of the delta batch — ≤2 rows at any "
        "batch size (round-13 one-pass side-presence probe)"
    ),
    "queries/stats.py::q_pareto_frontier#0": (
        "one aggregate row: global min/max of the spend domain"
    ),
    "queries/reports.py::q_customer_rfm#0": (
        "one aggregate row: n + per-dim lo/hi"
    ),
    "streaming/heavy_hitters.py::apply_heavy_hitters_batch#0": (
        "scalar sum over the persisted counted grain"
    ),
    "streaming/heavy_hitters.py::apply_heavy_hitters_batch#1": (
        "scalar max(n_total) from the prior snapshot"
    ),
    "streaming/heavy_hitters.py::read_summary#0": (
        "scalar max(n_total) from the snapshot"
    ),
    # ------------------------------------------------- limit(k) heads
    "streaming/heavy_hitters.py::mg_compress#0": (
        "limit(k+1) TakeOrdered — the MG cut point, k=64 default"
    ),
    "operators/bpe.py::train_bpe_merges#0": (
        "limit(max_vocab) TakeOrdered — BPE word-vocab cap"
    ),
    "operators/similarity.py::deterministic_centroids#0": (
        "limit(n_centroids) — seed centroids, k<=64"
    ),
    "operators/similarity.py::pq_train#0": (
        "limit(k) — PQ seed codebook rows, k<=256"
    ),
    "queries/similarity.py::ivfadc_per_probe#0": (
        "limit(_PANEL_CAP=40) TakeOrdered — fixed eval probe panel "
        "(round-12 fix: was an uncapped n/50 corpus fraction)"
    ),
    "pipeline/runner.py::verify_readback#0": (
        "limit(n=10) readback smoke check"
    ),
    # ------------------------------- bounded-grain aggregate rollups
    "operators/similarity.py::ivf_train#0": (
        "(centroid_id, dim) grain = k x dim rows per iteration"
    ),
    "operators/similarity.py::pq_train#1": (
        "(subspace, code, sub-dim) grain = dim x k rows per iteration"
    ),
    "queries/stats.py::q_pareto_frontier#1": (
        "per-bucket maxima — width law caps buckets at ~1001"
    ),
    "queries/reports.py::q_customer_rfm#1": (
        "(dim, bucket) counts — dims x ~1001 width-law buckets"
    ),
    "queries/reports.py::q_customer_rfm#2": (
        "NTILE boundary rows — <= 3 edges x dims rows"
    ),
    "queries/streams.py::q_stream_quantiles#1": (
        "bucket-grain rollup state — cents domain / bucket width"
    ),
    # --------------------------------------- per-partition summaries
    "queries/stats.py::q_heavy_hitters#0": (
        "MG partition summaries — <= (k+1) x numPartitions rows, k=256"
    ),
    "queries/vectors.py::q_embedding_pca#0": (
        "Gram partials — numPartitions x (dim^2+dim+1) doubles, dim=64"
    ),
    # ------------------------------------------ catalog-grain results
    "queries/catalog.py::discovered_fk_edges#0": (
        "FK edge catalog — bounded by table-pair grain (~14 edges)"
    ),
    # ------------------------------------- caller-verified small sets
    "operators/dedup.py::_union_find_driver#0": (
        "caller verifies edge count <= 2M before choosing the driver "
        "union-find path; larger graphs take the distributed loop"
    ),
}


#: site-key (``@`` ordinal) -> PER-GROUP boundedness justification.
AUDITED_GROUP: dict[str, str] = {
    "operators/shingle_pass.py::shingle_frames@0": (
        "per-doc distinct shingle set rebuilt from the materialized "
        "explode — bounded by the doc's token count, the same bound as "
        "shingle_sets' row-wise arrays (long-doc tier measured linear)"
    ),
    "operators/dedup.py::pairs_within_buckets@0": (
        "buckets capped before pair generation (on_oversize drop/error; "
        "max_bucket knob test pins bands x C(cap,2))"
    ),
    "operators/dedup.py::pairs_within_buckets@1": (
        "same capped buckets, payload-carrying variant"
    ),
    "operators/graph.py::order_baskets@0": (
        "per-order distinct part set — bounded by lines-per-order "
        "(≤ ~7 on TPC-H-shaped data), the bound the previous "
        "self-join's Σ|basket|² argument already relied on"
    ),
    "queries/graph.py::q_basket_pairs@0": (
        "per-order part multiset (collect_list) — bounded by "
        "lines-per-order (≤ ~7), the multiset twin of order_baskets"
    ),
    "operators/similarity.py::semdedup_drops@0": (
        "identical-vector value groups; member ids ARE the survivor "
        "output grain — hot-vector adversarial tier measured linear"
    ),
    "queries/text.py::q_inverted_index@0": (
        "postings head <= 16 ids: when() nulls rows past rank 16 and "
        "collect_list skips nulls"
    ),
    "queries/sql_scalars.py::q_array_hof_predicates@0": (
        "per-order line list — bounded by order width (7 in TPC-H; "
        "order grain at any corpus scale)"
    ),
    "queries/sql_aggregates.py::q_agg_listagg@0": (
        "LISTAGG demo: n_name per region — <= 25 nations per group "
        "(dimension grain)"
    ),
    "queries/events.py::q_sequence_match@0": (
        "per (user, day) event string — calendar-day grain; skewed "
        "users bounded by events/user/day"
    ),
    "queries/stats.py::q_feature_hash_audit@0": (
        "feature names per hash bucket — catalog grain (|columns|), "
        "not data grain"
    ),
    "queries/text.py::q_text_keyphrase@0": (
        "tokens per stopword-gap phrase run — doc-length bounded, "
        "long-doc tier measured; plen filter 2.._MAX_PHRASE"
    ),
    "queries/stats.py::q_survival_km@0": (
        "one global Kaplan-Meier curve over the DISTINCT duration "
        "domain (day grain), not event rows"
    ),
    "queries/events.py::q_events_top_paths@0": (
        "events per 30-min-gap session — session grain; skew-safe "
        "sessionization tier covers hot users"
    ),
    "queries/corpus.py::q_contamination@0": (
        "<= _CONTAM_GRAM_DF_CAP doc ids per gram: window df filter "
        "lands BEFORE the set-collect"
    ),
    "queries/corpus.py::q_contamination@1": (
        "same pre-capped gram groups, non-probe side"
    ),
}


def _qualname(stack: list[str]) -> str:
    return ".".join(stack) if stack else "<module>"


def find_sites(tree: ast.AST):
    """Yield (qualname, ordinal, lineno, method, cls) for driver- and
    group-materialization calls; ordinals count per (qualname, cls)."""
    counts: dict[tuple[str, str], int] = {}
    stack: list[str] = []

    class V(ast.NodeVisitor):
        def _visit_func(self, node):
            stack.append(node.name)
            self.generic_visit(node)
            stack.pop()

        visit_FunctionDef = _visit_func
        visit_AsyncFunctionDef = _visit_func
        visit_ClassDef = _visit_func

        def visit_Call(self, node):
            f = node.func
            cls = None
            if (
                isinstance(f, ast.Attribute)
                and f.attr in DRIVER_CALLS
                and not node.args
                and not node.keywords
                and not (
                    isinstance(f.value, ast.Name)
                    and f.value.id in IGNORED_RECEIVERS
                )
            ):
                cls = "driver"
            elif isinstance(f, ast.Attribute) and f.attr in GROUP_CALLS:
                cls = "group"
            if cls is not None:
                q = _qualname(stack)
                i = counts.get((q, cls), 0)
                counts[(q, cls)] = i + 1
                sites.append((q, i, node.lineno, f.attr, cls))
            self.generic_visit(node)

    sites: list[tuple[str, int, int, str, str]] = []
    V().visit(tree)
    return sites


def census(src_root: str = SRC_ROOT):
    """All driver- and group-materialization sites under ``src_root``."""
    out = []
    for dirpath, _dirnames, filenames in os.walk(src_root):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, src_root)
            with open(path) as f:
                try:
                    tree = ast.parse(f.read())
                except SyntaxError:
                    continue
            for q, i, lineno, meth, cls in find_sites(tree):
                out.append(
                    {
                        "key": f"{rel}::{q}#{i}"
                        if cls == "driver"
                        else f"{rel}::{q}@{i}",
                        "file": rel,
                        "line": lineno,
                        "method": meth,
                        "cls": cls,
                    }
                )
    return out


def lint(src_root: str = SRC_ROOT, audited: dict | None = None,
         audited_group: dict | None = None):
    """(unaudited sites, stale audit keys) across both classes."""
    audited = AUDITED if audited is None else audited
    audited_group = AUDITED_GROUP if audited_group is None else audited_group
    merged = {**audited, **audited_group}
    sites = census(src_root)
    seen = {s["key"] for s in sites}
    unaudited = [s for s in sites if s["key"] not in merged]
    stale = sorted(k for k in merged if k not in seen)
    return unaudited, stale


def _selftest() -> int:
    import tempfile
    import textwrap

    with tempfile.TemporaryDirectory() as td:
        with open(os.path.join(td, "mod.py"), "w") as f:
            f.write(
                textwrap.dedent(
                    """
                    import gc

                    def good():
                        gc.collect()          # ignored receiver
                        df.collect(True)      # has args -> not the API
                        return 1

                    def bad(df):
                        rows = df.collect()
                        pdf = df.toPandas()
                        return rows, pdf

                    def bad2(df):
                        for r in df.toLocalIterator():
                            pass
                    """
                )
            )
        un, stale = lint(
            td, audited={"mod.py::bad#0": "seeded"}, audited_group={}
        )
        keys = sorted(s["key"] for s in un)
        assert keys == ["mod.py::bad#1", "mod.py::bad2#0"], keys
        assert stale == [], stale
        un2, stale2 = lint(
            td, audited={"mod.py::ghost#0": "gone"}, audited_group={}
        )
        assert len(un2) == 3 and stale2 == ["mod.py::ghost#0"]
        with open(os.path.join(td, "grp.py"), "w") as f:
            f.write(
                "from pyspark.sql import functions as F\n"
                "def agg1(df):\n"
                "    return df.groupBy('k').agg("
                "F.collect_list('v'), F.collect_set('v'))\n"
            )
        un3, _ = lint(td, audited={"mod.py::bad#0": "s", "mod.py::bad#1": "s",
                                   "mod.py::bad2#0": "s"},
                      audited_group={"grp.py::agg1@0": "seeded"})
        assert sorted(s["key"] for s in un3) == ["grp.py::agg1@1"], un3
    print("selftest OK")
    return 0


def main(argv) -> int:
    if "--selftest" in argv:
        return _selftest()
    if "--list" in argv:
        merged = {**AUDITED, **AUDITED_GROUP}
        for s in census():
            mark = " " if s["key"] in merged else "!"
            print(f"{mark} {s['key']}  ({s['method']} @ line {s['line']})")
        return 0
    unaudited, stale = lint()
    for s in unaudited:
        print(
            f"UNAUDITED driver materialization: {s['key']} "
            f"({s['method']} at {s['file']}:{s['line']}) — prove the "
            "bound and add it to tools/lint_driver_bound.py::AUDITED"
        )
    for k in stale:
        print(f"STALE audit entry (site gone or moved): {k}")
    return 1 if (unaudited or stale) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
