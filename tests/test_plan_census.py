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
(``operators/graph.py``, the ``localCheckpoint`` sites) or the number of
jobs a table read takes changes: ``python tests/test_plan_census.py``
runs each key as ``test_executed_plan_census`` does, on the tree and
with ``localCheckpoint`` patched to return ``self`` on
``pyspark.sql.classic.dataframe.DataFrame`` (in pyspark 4 patching
``pyspark.sql.DataFrame`` alone leaves the checkpoints in place), and
prints both counts with the pins the midpoint rules stated at
``PLAN_BUDGETS`` give.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from retime import run_counted  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

#: key -> (jobs_min, jobs_max, stages_max). Measured steady-state
#: (jobs, stages) on tree / with every localCheckpoint a no-op, since
#: table and snapshot reads resolve their schemas from the parquet
#: schema catalog (one inference job fewer per table read):
#:   khop 19/29 vs 18/71 · label_prop 19/29 vs 11/47
#:   triangles 16/26 vs 13/34 · jaccard 10/15 vs 8/17
#:   degree 8/17 vs 7/20 · item_cf 9/16 vs 8/19
#:   pagerank 16/28 vs 14/43
#:   discovery_sketch 7/25 (no checkpoints: same with the no-op)
#:   window_exclude 9/22 · ivfadc 22/43
#: Discriminating pins sit at the midpoint of the measurement they were
#: set on: jobs_min = floor((tree + no-op) / 2) when the no-op runs
#: fewer jobs, jobs_max = floor((tree + no-op) / 2) when it runs more,
#: and stages_max = ceil((tree + no-op) / 2). A pin moves only when the
#: tree fails it or the no-op passes it, so most still come from earlier
#: counts (before the catalog, tree / no-op: khop 20/30 vs 19/71-77, triangles
#: 17/27 vs 14/35-37, jaccard 11/16 vs 9/18, item_cf 10/17 vs 9/20-21,
#: pagerank 17/29 vs 15/44-46; khop's stages_max 66 and label_prop's
#: 18 / 44 from the pre-ac0586d counts khop 30/58 vs 19/73 and
#: label_prop 24/38 vs 13/50), which the current counts still
#: straddle. degree's jobs_min is its tree count (8 vs 7 has no
#: integer midpoint); discovery_sketch's jobs_min is its tree count
#: too, as it has no checkpoint. neardup_registry's jobs_max and
#: stages_max are the midpoints of 46/66 vs 64/90 (its no-op re-runs
#: the truncated lineage, so it runs more jobs, not fewer). The other
#: jobs_max and stages_max carry headroom over the tree count for AQE
#: jitter.
PLAN_BUDGETS: dict[str, tuple[int, int, int]] = {
    # iterative / multi-reference graph family (the 93df3cf class)
    "q_khop_reach": (19, 45, 66),
    "q_label_propagation": (18, 36, 44),
    "q_part_triangles": (15, 33, 48),
    "q_graph_neighbor_jaccard": (10, 23, 32),
    "q_degree_distribution": (8, 14, 20),
    "q_item_cf": (9, 17, 19),
    "q_pagerank": (16, 32, 37),
    # cached-subtree printing artifact (task 7): the formatted plan
    # prints 77 scans; execution is two passes — the budget pins the
    # EXECUTED count, no cosmetic exception needed
    "q_join_discovery_sketch": (7, 32, 50),
    # heavy keys worth a structural pin (no checkpoint discipline:
    # jobs_min 1 just asserts execution happened)
    "q_window_exclude": (1, 16, 30),
    "q_ann_ivfadc": (1, 38, 60),
    # round-12 extension: the remaining bench-tail heavies, priority
    # on the ITERATIVE/STATEFUL class (multi-epoch registries, the
    # incremental view, recursive closure) where lineage regrowth
    # would reappear first. Measured steady-state (jobs, stages) at
    # sf0.001 with the schema catalog (the pins were set on counts
    # 1-14 jobs higher, before it):
    #   incremental_join_view 43/62 · join_discovery 32/59
    #   stream_heavy_hitters 39/78 · neardup_registry 46/66
    #   dedup_registry 19/30 · recursive_reach 26/52
    #   stream_quantiles 18/29 · threshold_sweep 9/19
    #   containment 10/20 · jaccard_prefix 10/22
    "q_incremental_join_view": (40, 85, 120),
    "q_join_discovery": (30, 70, 110),
    "q_stream_heavy_hitters": (30, 65, 125),
    "q_neardup_registry": (33, 55, 78),
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
    """(jobs, stages) that ran while ``fn``'s result was collected."""
    return run_counted(
        spark, lambda: fn(spark, SF_DIR).collect(), f"plan-census-{name}"
    )


def _within(pin: tuple[int, int, int], jobs: int, stages: int) -> bool:
    jobs_min, jobs_max, stages_max = pin
    return jobs_min <= jobs <= jobs_max and stages <= stages_max


@pytest.mark.parametrize("name", sorted(PLAN_BUDGETS))
def test_executed_plan_census(spark, entry_queries, name):
    fn = entry_queries.get(name)
    assert fn is not None, f"{name} missing from queries()"
    _run_counted(spark, fn, f"warm-{name}")  # warm session caches
    jobs, stages = _run_counted(spark, fn, name)
    jobs_min, jobs_max, stages_max = PLAN_BUDGETS[name]
    assert _within(PLAN_BUDGETS[name], jobs, stages), (
        f"{name} executed {jobs} jobs / {stages} stages at sf0.001 "
        f"(shape pin: jobs in [{jobs_min}, {jobs_max}], stages <= "
        f"{stages_max}) — too few jobs means the eager localCheckpoint "
        "truncation was lost (the 93df3cf class), too many stages means "
        "duplicated subtrees / lost exchange reuse, too many jobs means "
        "a runaway iterative loop; check .explain('formatted') and "
        "re-measure before changing the pin"
    )


def _measure(spark, queries, tag: str) -> dict[str, tuple[int, int]]:
    # Job groups accumulate, so each measurement needs its own names.
    out = {}
    for name in sorted(PLAN_BUDGETS):
        _run_counted(spark, queries[name], f"{tag}-warm-{name}")
        out[name] = _run_counted(spark, queries[name], f"{tag}-{name}")
    return out


def main() -> None:
    """Print tree / no-op counts and the midpoint pins for every key."""
    from pyspark.sql.classic.dataframe import DataFrame

    import __spark_entry__ as entrymod
    from self_healing_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    queries = entrymod.queries()
    tree = _measure(spark, queries, "tree")
    real = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, *a, **kw: self
    try:
        noop = _measure(spark, queries, "noop")
    finally:
        DataFrame.localCheckpoint = real
    print("key  tree jobs/stages  no-op jobs/stages  pin  tree-passes"
          "  no-op-caught  midpoint pins")
    for name in sorted(PLAN_BUDGETS):
        (tj, ts), (nj, ns), pin = tree[name], noop[name], PLAN_BUDGETS[name]
        # The no-op caught by too few jobs pins jobs_min; by too many
        # (it re-runs what a checkpoint truncated), jobs_max.
        jobs_pin = "jobs_max" if nj > tj else "jobs_min"
        print(
            f"{name}  {tj}/{ts}  {nj}/{ns}  {pin}  {_within(pin, tj, ts)}"
            f"  {not _within(pin, nj, ns)}"
            f"  {jobs_pin}={(tj + nj) // 2} stages_max={-(-(ts + ns) // 2)}"
        )


if __name__ == "__main__":
    main()
