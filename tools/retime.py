"""Re-time bench keys in a fresh process: one side of the tripwire's A/B.

Usage:
  python tools/retime.py [--root DIR] q_key1 q_key2 ...
  python tools/retime.py --probe    # start the bench session, time nothing

``--root`` is the checkout whose ``__spark_entry__`` and engine are
imported (default: this one), so one script times the working tree and
a ``git archive`` of an older commit alike. Each key runs once untimed
(its codegen, JIT and Python-worker warm-up), then once timed under its
own job group, into the noop sink after a ``gc.collect()``. The last
stdout line is one JSON object: ``master``, ``root``, ``steal_pct``,
``queries`` (key -> seconds), ``counts`` (key -> [jobs, stages] of the
timed run) and ``failed`` (key -> error).

Run it as a subprocess, never inside a process that owns a
SparkSession: ``getOrCreate()`` cannot change master, so the keys would
run on the caller's session; ``master`` in the JSON lets callers check.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line,
    or None where unavailable (non-Linux). Steal is time the hypervisor
    ran someone else while this VM's vCPUs wanted to run."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:  # pragma: no cover - non-Linux
        return None
    if not parts or parts[0] != "cpu" or len(parts) < 9:
        return None
    vals = [int(x) for x in parts[1:]]
    return vals[7], sum(vals)


def steal_window():
    """Context-free steal meter: call once to start, call the returned
    closure to get the steal percentage (0-100) of all CPU time elapsed
    since the start (None where unavailable)."""
    t0 = _cpu_ticks()

    def pct() -> float | None:
        t1 = _cpu_ticks()
        if t0 is None or t1 is None:
            return None
        dsteal, dtotal = t1[0] - t0[0], t1[1] - t0[1]
        if dtotal <= 0:
            return None
        return round(100.0 * dsteal / dtotal, 2)

    return pct


def run_counted(spark, action, group: str) -> tuple[int, int]:
    """Call ``action()`` under the job group ``group`` (a fresh name per
    call: groups accumulate); return the numbers of jobs and distinct
    stages that ran, construction-time jobs (eager localCheckpoint,
    index training) included."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
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


def retime(spark, keys: list[str]) -> dict:
    """Warm and time each key; return the ``queries``, ``counts`` and
    ``failed`` maps of the output line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    out: dict[str, dict] = {"queries": {}, "counts": {}, "failed": {}}
    for key in keys:
        elapsed: list[float] = []

        def run() -> None:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed.append(time.perf_counter() - t0)

        try:
            fn = queries[key]  # a KeyError reports an unregistered key
            for tag in ("warm", "timed"):
                gc.collect()
                counts = run_counted(spark, run, f"retime-{tag}-{key}")
        except Exception as exc:  # reported, so the caller can judge it
            traceback.print_exc()
            out["failed"][key] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        out["queries"][key] = round(elapsed[-1], 4)
        out["counts"][key] = list(counts)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--root", default=REPO, type=os.path.abspath)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    if not args.keys and not args.probe:
        ap.error("name the keys to time, or --probe")
    # Never at import: importing this module must not change sys.path.
    sys.path.insert(0, args.root)
    import self_healing_data_pipeline_spark as pkg
    from self_healing_data_pipeline_spark.session import get_spark

    spark = get_spark("retime")  # local[$SPARK_GRAFT_CPUS], as bench.py
    steal = steal_window()
    timed = retime(spark, args.keys) if args.keys else {}
    # ONE machine-readable line, guaranteed last on stdout.
    print(
        json.dumps(
            {
                "master": spark.sparkContext.master,
                "root": os.path.dirname(os.path.dirname(pkg.__file__)),
                "steal_pct": steal(),
                **timed,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
