"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``self_healing_data_pipeline_spark`` (operators by
SURVEY.md §2 section); this module only adapts them to the contract.
"""

from __future__ import annotations

import functools
import importlib.util
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


@functools.cache
def _verification_order() -> tuple[str, ...]:
    """The key order ``tools/verify_slate.py`` computes, once per process."""
    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "verify_slate", os.path.join(here, "tools", "verify_slate.py")
    )
    slate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(slate)
    order, _ = slate.verification_order(registry.QUERIES, registry.ORACLE)
    return tuple(order)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so verification coverage rotates across driver rounds (the
    driver records verdicts for a prefix of this dict): keys whose last
    verdict failed, then never-checked keys (oracle-backed first), then
    keys whose code changed since their latest green verdict, then the
    unchanged greens; changed and green keys each oldest verdict first.
    Pure reordering — the key set is exactly ``registry.QUERIES``.
    """
    return {k: registry.QUERIES[k] for k in _verification_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each SQL-expressible query."""
    return dict(registry.ORACLE)
