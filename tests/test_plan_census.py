"""Executed-plan census gate (round-11 verdict tasks 6+7).

Round 11 found ``q_khop_reach`` compiling to 224 parquet scans / 524
exchanges (iterative frontier loops embed k copies of the edge build;
double-reference per round doubles the plan per iteration) — fixed by
eager ``localCheckpoint`` lineage truncation (93df3cf), verified by a
hand-run static census. This test pins that census in CI, but against
EXECUTED truth, not formatted-plan text: each key runs under its own
job group and the gate counts the Spark JOBS and STAGES that actually
executed (``statusTracker``). Formatted plans overprint cached
subtrees — ``q_join_discovery_sketch`` prints 77 scans because
InMemoryRelation renders its child plan per reference, while execution
runs two passes — so text budgets would need hand-waived exceptions;
executed stage counts need none.

Budgets are measured steady-state (one warm-up run per key for
session-level index/catalog caches, then the counted run) at sf0.001;
three consecutive measurements were count-identical per key, except
that label propagation's first counted run read 21/33 and the next two
20/30. Executed truth is SMALLER than the formatted plan suggested —
runtime shuffle reuse absorbs much of the static duplication (khop with
its checkpoints removed executes 71-77 stages, not 224 scans' worth) —
so each key pins a THREE-part shape: ``jobs_min`` (the eager-checkpoint
jobs ARE the fix; their disappearance is the regression signature),
``jobs_max`` (a runaway iterative loop adds jobs), and ``stages_max``
(duplicated subtrees and lost reuse add stages). Since the basket-form
pair build (ac0586d) khop's jobs signature is only 20 -> 19 with the
checkpoints removed, so its stages pin carries the detection (71-77 >
66); item_cf is caught the same way (20-21 > 19). Verified red with
every ``localCheckpoint`` made a no-op for all seven graph keys (khop,
label_prop, triangles, jaccard, degree, item_cf, pagerank), green on
tree.

Re-measure the pins whenever a builder shared by these keys changes
(``operators/graph.py``, the ``localCheckpoint`` sites): run each key as
``test_executed_plan_census`` does, on the tree and with
``localCheckpoint`` patched to return ``self`` on
``pyspark.sql.classic.dataframe.DataFrame`` (in pyspark 4 patching
``pyspark.sql.DataFrame`` alone leaves the checkpoints in place), then
apply the two midpoint rules stated at ``PLAN_BUDGETS``.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"

#: key -> (jobs_min, jobs_max, stages_max). Measured steady-state
#: (jobs, stages) on tree / with every localCheckpoint a no-op, after
#: the basket-form pair build (ac0586d, extended to item_cf by 532da94):
#:   khop 20/30 vs 19/71-77 · label_prop 20/30 vs 12/48
#:   triangles 17/27 vs 14/35-37 · jaccard 11/16 vs 9/18
#:   degree 9/18 vs 8/21 · item_cf 10/17 vs 9/20-21
#:   pagerank 17/29 vs 15/44-46 (re-measured: 17/29 ×3 vs 15/46 ×3)
#:   discovery_sketch 21/39
#:   window_exclude 10/23 · ivfadc 23/44
#: Discriminating pins sit at the midpoint of the measurement they were
#: set on: jobs_min = floor((tree + no-op) / 2) and stages_max =
#: ceil((tree + no-op) / 2). khop's jobs_min 19, triangles' 15,
#: jaccard's 10, item_cf's stages_max 19 and pagerank's 16 / 37 come
#: from the counts above (pagerank's stages midpoint uses the low end
#: of its no-op range, 44, so every no-op run seen exceeds it);
#: khop's stages_max 66 and label_prop's 18 / 44 come from the
#: pre-ac0586d counts (khop 30/58 vs 19/73, label_prop 24/38 vs 13/50),
#: which the current counts still straddle. degree's jobs_min is its
#: tree count (9 vs 8 has no integer midpoint). jobs_max and the other
#: stages_max carry headroom over the tree count for AQE jitter.
PLAN_BUDGETS: dict[str, tuple[int, int, int]] = {
    # iterative / multi-reference graph family (the 93df3cf class)
    "q_khop_reach": (19, 45, 66),
    "q_label_propagation": (18, 36, 44),
    "q_part_triangles": (15, 33, 48),
    "q_graph_neighbor_jaccard": (10, 23, 32),
    "q_degree_distribution": (9, 14, 20),
    "q_item_cf": (9, 17, 19),
    "q_pagerank": (16, 32, 37),
    # cached-subtree printing artifact (task 7): the formatted plan
    # prints 77 scans; execution is two passes — the budget pins the
    # EXECUTED count, no cosmetic exception needed
    "q_join_discovery_sketch": (15, 32, 50),
    # heavy keys worth a structural pin (no checkpoint discipline:
    # jobs_min 1 just asserts execution happened)
    "q_window_exclude": (1, 16, 30),
    "q_ann_ivfadc": (1, 38, 60),
    # round-12 extension: the remaining bench-tail heavies, priority
    # on the ITERATIVE/STATEFUL class (multi-epoch registries, the
    # incremental view, recursive closure) where lineage regrowth
    # would reappear first. Measured steady-state (jobs, stages) at
    # sf0.001, two consecutive counted runs identical per key:
    #   incremental_join_view 57/78 · join_discovery 46/73
    #   stream_heavy_hitters 43/82 · neardup_registry 47/69
    #   dedup_registry 23/34 · recursive_reach 28/52
    #   stream_quantiles 22/33 · threshold_sweep 8/21
    #   containment 11/25 · jaccard_prefix 9/25
    "q_incremental_join_view": (40, 85, 120),
    "q_join_discovery": (30, 70, 110),
    "q_stream_heavy_hitters": (30, 65, 125),
    "q_neardup_registry": (33, 70, 105),
    "q_dedup_registry": (16, 35, 50),
    "q_recursive_reach": (20, 42, 78),
    "q_stream_quantiles": (15, 33, 50),
    "q_dedup_threshold_sweep": (1, 16, 32),
    "q_dedup_containment": (1, 20, 38),
    "q_dedup_jaccard_prefix": (1, 18, 38),
}


@pytest.fixture(scope="module")
def entry_queries(spark):
    import __spark_entry__ as entrymod

    return entrymod.queries()


def _run_counted(spark, fn, name: str) -> tuple[int, int]:
    """Execute ``fn`` under a dedicated job group; return the number of
    jobs and distinct stages that ACTUALLY ran (construction-time jobs
    — eager localCheckpoint, index training — included: the group wraps
    the whole call, which is exactly the cost a user pays)."""
    sc = spark.sparkContext
    group = f"plan-census-{name}"
    sc.setJobGroup(group, name)
    try:
        fn(spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    return len(job_ids), len(stages)


@pytest.mark.parametrize("name", sorted(PLAN_BUDGETS))
def test_executed_plan_census(spark, entry_queries, name):
    fn = entry_queries.get(name)
    assert fn is not None, f"{name} missing from queries()"
    _run_counted(spark, fn, f"warm-{name}")  # warm session caches
    jobs, stages = _run_counted(spark, fn, name)
    jobs_min, jobs_max, stages_max = PLAN_BUDGETS[name]
    assert jobs_min <= jobs <= jobs_max and stages <= stages_max, (
        f"{name} executed {jobs} jobs / {stages} stages at sf0.001 "
        f"(shape pin: jobs in [{jobs_min}, {jobs_max}], stages <= "
        f"{stages_max}) — too few jobs means the eager localCheckpoint "
        "truncation was lost (the 93df3cf class), too many stages means "
        "duplicated subtrees / lost exchange reuse, too many jobs means "
        "a runaway iterative loop; check .explain('formatted') and "
        "re-measure before changing the pin"
    )
