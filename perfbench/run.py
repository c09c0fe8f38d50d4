"""Benchmark entry point for the self-healing data pipeline engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:

- ``queries_sf0.01``: TPC-H Q1/Q18 and two epoch-store keys
  (``q_dedup_registry``, ``q_time_travel``) over generated sf0.01 tables,
  each op forced with the noop sink.
- ``ingest_pipeline``: ``pipeline.runner.ingest_file_pipeline`` over
  a seed-generated CSV and JSON array-of-objects upload plus a header-only
  CSV that must end in the recoverable ``Error`` state; each
  loaded table is then scanned through the noop sink.

The script generates the inputs (tables once per checkout under
``.perfbench/``, upload files per seed), then starts ``worker.py`` as its
own process group, waits for it, stops every process left in the group,
and prints the result as one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones from a traced run.
The full record of each run (seed, stamps, every op, the gate verdicts)
is written to ``.perfbench/runs/``; a traced run also writes its spans.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

TABLES_SF = 0.01
# Upload files per pass: a CSV and a JSON array-of-objects, about 0.5 MB each.
INGEST_ROWS = [6000, 6000]
# Per-run limit for the measured process; with the clean-up's 15 s at most
# a run stays inside the 180 s a benchmark run is allowed.
WORKER_TIMEOUT_S = 150
WORKLOADS = ("queries_sf0.01", "ingest_pipeline")
# Figures the report line shows besides the end-to-end metrics.  Over the
# twenty or so ops of one run the op percentiles are too jumpy to gate on,
# and fail_frac is 0 on a correct run, so neither is in BENCHMARK.json.
REPORT_UNITS = {"op_p50_s": "s", "op_p90_s": "s", "fail_frac": "ratio"}


# Counters that must repeat exactly between traced runs of one seed.
STRUCTURAL = ("plan.exchanges", "execute.stages", "execute.tasks",
              "execute.shuffle_read_bytes", "execute.shuffle_write_bytes",
              "build.py4j_calls", "build.eager_jobs", "sources.read_calls",
              "streaming.files_written")


def counter_diff(runs: str, out: str, result: dict) -> dict | None:
    """Structural counters that differ from the previous traced run of the
    same workload, seed and engine sources; None if there is no such run."""
    run = result["run"]
    previous = []
    for name in os.listdir(runs):
        path = os.path.join(runs, name)
        if path == out or "-trace1-" not in name or name.endswith(".spans.json"):
            continue
        with open(path) as f:
            other = json.load(f)
        o = other["run"]
        if (o["workload"], o["seed"], o["source_sha"]) == (
            run["workload"], run["seed"], run["source_sha"]
        ):
            previous.append((os.path.getmtime(path), other["metrics"]))
    if not previous:
        return None
    last = max(previous, key=lambda p: p[0])[1]
    now = result["metrics"]
    return {k: [last[k], now[k]] for k in STRUCTURAL if last[k] != now[k]}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def _pgroup_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait for the worker's process group (the JVM and its Python workers
    leave once the worker exits), then stop whatever is left of it."""
    pgid = proc.pid
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            if proc.poll() is not None and not _pgroup_pids(pgid):
                return
            time.sleep(0.1)
    proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "self_healing_data_pipeline_spark")):
        _fail(f"engine package not found under {ROOT}")

    import datagen

    work = os.path.join(ROOT, ".perfbench")
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    tables_dir = os.path.join(work, f"tables_sf{TABLES_SF}")
    datagen.write_tables(tables_dir, TABLES_SF)
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    cfg = {
        "root": ROOT,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tables_dir": tables_dir,
        "out": os.path.join(runs, f"{stamp}.json"),
    }
    if args.workload == "ingest_pipeline":
        files = datagen.write_ingest_files(
            os.path.join(work, f"ingest-{os.getpid()}"), args.seed, INGEST_ROWS
        )
        cfg["ingest_manifest"] = os.path.join(work, f"ingest-{os.getpid()}.json")
        with open(cfg["ingest_manifest"], "w") as f:
            json.dump(files, f)
    else:
        from worker import QUERY_OPS

        cfg["keys"] = [k for keys in QUERY_OPS.values() for k in keys]

    # A TERM from outside still runs the clean-up in the finally below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    # Spark's block manager, the JVM's and Python's temporary files stay
    # inside the checkout too.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit_opts = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + HERE, TMPDIR=tmp,
               SPARK_LOCAL_DIRS=tmp, SPARK_SUBMIT_OPTS=submit_opts.strip())
    cfg["spawn_time"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=ROOT,
        env=env,
        start_new_session=True,
        stdout=sys.stderr,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
        if args.workload == "ingest_pipeline":
            import shutil

            shutil.rmtree(os.path.join(work, f"ingest-{os.getpid()}"), ignore_errors=True)
            os.remove(cfg["ingest_manifest"])
    if code != 0 or not os.path.exists(cfg["out"]):
        _fail(f"measured process failed (exit {code}); see stderr above")
    with open(cfg["out"]) as f:
        result = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = bench["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(result["metrics"]):
        _fail(f"metric set {sorted(result['metrics'])} does not match BENCHMARK.json")
    run = result["run"]
    if args.trace:
        run["counter_diff"] = counter_diff(runs, cfg["out"], result)
        if run["counter_diff"]:
            print(f"perfbench: structural counters moved since the last traced run"
                  f" of this seed: {run['counter_diff']}", file=sys.stderr)
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    for err in run["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    if not run["valid"]:
        print(f"perfbench: invalid run, timed passes still trend: second/first half"
              f" = {run['trend']:.3f}", file=sys.stderr)
    report_units = dict(REPORT_UNITS, **{m["name"]: m["unit"] for m in bench["end_to_end"]})
    print(json.dumps({
        "record": cfg["out"],
        "report": {k: {"value": v, "unit": report_units[k]} for k, v in run["report"].items()},
        "run": {k: v for k, v in run.items() if k not in ("ops", "report")},
    }))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
