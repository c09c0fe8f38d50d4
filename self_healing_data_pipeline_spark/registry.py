"""Query registry: one entry per implemented operator (SURVEY.md §2).

Each ``q_*`` key maps to a PySpark callable ``(spark, sf_dir) -> DataFrame``
plus (where SQL-expressible) a DuckDB-runnable ANSI-SQL oracle string over
the same parquet tables. Column names/aliases match exactly on both sides —
the driver's compare sorts columns by name before hashing values.

Determinism rules applied throughout (SURVEY.md §7 "what's hard"):
- monetary aggregates in exact decimal, cast to double at the end
  (bit-identical across engines — ``functions.scalar``);
- every LIMIT carries a total order with a unique tie-break key;
- timestamps rendered with second precision via ``ts_str`` where emitted;
- no sampling, no approx functions in oracle-checked queries.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn):
        # Refuse silent shadowing: two modules registering the same key
        # would leave whichever import ran last as the only survivor
        # (and its oracle as the only twin) with no error anywhere.
        # Idempotent re-registration of the SAME function (module
        # re-import) stays allowed.
        # Compare (module, qualname), not qualname alone: the repo
        # convention names the function after the key (@query('q_x')
        # def q_x), so two DIFFERENT modules registering the same key
        # would otherwise pass on matching function names — exactly the
        # silent-shadow case this guard exists to catch.
        prev = QUERIES.get(name)
        if prev is not None and (
            prev.__module__,
            prev.__qualname__,
        ) != (fn.__module__, fn.__qualname__):
            raise ValueError(f"duplicate query key: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module under ``queries/``; each registers its keys."""
    from self_healing_data_pipeline_spark import queries

    for mod in pkgutil.iter_modules(queries.__path__):
        importlib.import_module(f"{queries.__name__}.{mod.name}")
