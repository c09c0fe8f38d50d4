"""The measured process: one Spark session running one workload.

Started by ``run.py`` with a JSON argument; writes its result record to
the path named there.  Phases, in order:

1. set-up: session (``session.get_spark`` pinned to ``local[nproc]``),
   ``registry.load_all`` and one warm-up pass of the workload's op list.
   The warm-up pass collects every query result for the correctness gate.
2. timed window: whole passes of the op list, each in a seed-permuted
   order: the whole number of passes nearest to ``seconds``, two at least.
   A traced run traces each op in every other pass (two passes at
   least), so it can report its own overhead.
3. outside the window: the trend check, the DuckDB oracle comparison, a
   full JVM GC and the live-memory read.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import random
import re
import resource
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

QUERY_OPS = {
    # TPC-H Q1 and Q18: a scan-aggregate and a grouped semi-join; they run
    # one forced execution each.
    "tpch": ["q_agg_groupby", "q_tpch_q18"],
    # Keys that drive an epoch state store through three epochs each:
    # every epoch commits a parquet snapshot and reads it back.
    "epoch_stores": ["q_dedup_registry", "q_time_travel"],
}
# A run is marked invalid when its second half of passes is this much
# faster than its first half: the window would hold a cold pass.  With the
# one warm-up pass the run budget allows, the JIT still takes 5-25 % off
# the second timed pass (4-core VM), so the limit catches a cold window,
# not that drift.
TREND_LIMIT = 0.35
_EXCHANGE = re.compile(r"\b(?:BroadcastExchange|Exchange)\b")


# ---------------------------------------------------------------------------
# Process-tree CPU (driver Python, the JVM, and its Python workers)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime.
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its descendants, reaped ones included."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


# ---------------------------------------------------------------------------
# Ops
# ---------------------------------------------------------------------------


def _span(tracer, name, **attrs):
    return nullcontext() if tracer is None else tracer.span(name, **attrs)


def _plan_and_execute(df, tracer, rec: dict) -> None:
    """Force planning (traced runs only) and run the noop write."""
    if tracer is not None:
        with tracer.span("plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        rec["exchanges"] = sum(1 for line in plan.splitlines() if _EXCHANGE.search(line))
    with _span(tracer, "execute"):
        df.write.format("noop").mode("overwrite").save()


def run_query_op(spark, fn, sf_dir, tracer, rec: dict, collect: bool):
    with _span(tracer, "build"):
        df = fn(spark, sf_dir)
    if collect:
        return df.toPandas()
    _plan_and_execute(df, tracer, rec)
    return None


def run_ingest_op(spark, truth: dict, tracer, rec: dict):
    from self_healing_data_pipeline_spark.pipeline.runner import ingest_file_pipeline

    seen = {}

    def approve(state):
        seen["profile"] = state[1]
        return True

    rec["wall_start"] = time.time()
    with _span(tracer, "build"):
        res = ingest_file_pipeline(spark, truth["path"], schema_approver=approve)
    if res.ok:
        _plan_and_execute(spark.table(res.value), tracer, rec)
    return res, seen.get("profile")


def check_ingest(res, profile, truth: dict) -> str | None:
    """Compare one pipeline result with the generator's ground truth."""
    from self_healing_data_pipeline_spark.pipeline.runner import PipelineStep

    if not truth["ok"]:
        if res.ok or res.step is not PipelineStep.ERROR:
            return f"expected recoverable ERROR, got ok={res.ok} step={res.step}"
        return None
    if not res.ok or res.step is not PipelineStep.DONE or profile is None:
        return f"pipeline did not finish: step={res.step}"
    cols = {c.column_name: c for c in profile.columns}
    if sorted(cols) != sorted(truth["types"]):
        return f"columns {sorted(cols)} != {sorted(truth['types'])}"
    for name, want in truth["types"].items():
        col = cols[name]
        if col.inferred_sql_type != want:
            return f"{name}: type {col.inferred_sql_type} != {want}"
        m = re.search(r"(\d+)/(\d+) non-null", col.description)
        if m is None:
            return f"{name}: no counts in {col.description!r}"
        non_null, total = int(m.group(1)), int(m.group(2))
        if total != truth["rows"] or total - non_null != truth["nulls"][name]:
            return f"{name}: {total - non_null} nulls of {total}, want {truth['nulls'][name]} of {truth['rows']}"
    return None


# ---------------------------------------------------------------------------
# Pipeline log and trace attribution
# ---------------------------------------------------------------------------

PIPELINE_STAGES = ("Upload", "AnalyzingSchema", "GeneratingSql", "ProcessingDb")


def pipeline_record(res, t_start: float) -> dict:
    """Per-stage seconds and attempt counts from the runner's EtlLogEntry log."""
    stage_s: dict[str, float] = {}
    attempts = useful = 0
    prev = t_start
    for entry in res.logs:
        stage_s[entry.step] = stage_s.get(entry.step, 0.0) + entry.timestamp - prev
        prev = entry.timestamp
        msg = entry.message
        if msg.startswith(f"{entry.step}: ok"):
            attempts += 1
            useful += 1
        elif entry.severity == "error" and "exhausted retries" not in msg:
            attempts += 1
    return {"stage_s": stage_s, "attempts": attempts, "useful": useful}


def scratch_files(root: str) -> dict[str, tuple[int, int]]:
    """(mtime, size) of every file in this process's engine scratch dirs."""
    base = os.path.join(root, ".scratch")
    suffix = f"_pid{os.getpid()}"
    out = {}
    if not os.path.isdir(base):
        return out
    for d in os.listdir(base):
        if not d.endswith(suffix):
            continue
        for dirpath, _, files in os.walk(os.path.join(base, d)):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
    return out


def attribute_jobs(tracer, op_records: list[dict]) -> None:
    """Add Spark job/stage counters to each traced op record, by span."""
    jobs, stages = tracer.status_store()
    span_by_id = {s["id"]: s for s in tracer.spans}
    seen_stages: set[int] = set()
    per_span: dict[int, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup") or ""
        if not group.startswith("span"):
            continue
        agg = per_span.setdefault(int(group[4:]), dict.fromkeys(
            ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0))
        agg["jobs"] += 1
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None or sid in seen_stages:
                continue
            seen_stages.add(sid)
            agg["stages"] += 1
            agg["tasks"] += st["numCompleteTasks"]
            agg["task_cpu_s"] += st["executorCpuTime"] / 1e9
            agg["shuffle_read_bytes"] += st["shuffleReadBytes"]
            agg["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            agg["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]

    def top(span) -> str:
        while span["parent"] is not None:
            span = span_by_id[span["parent"]]
        return span["name"]

    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    for rec in op_records:
        if not rec.get("traced"):
            continue
        layer = dict.fromkeys(
            ("build_s", "build_py4j_calls", "build_jobs", "read_calls", "read_s",
             "read_jobs", "plan_s", "execute_s", "epochs", "epoch_s", "profile_s",
             "profile_jobs", "readback_s"), 0)
        layer["epoch_s_by_store"] = {}
        execute = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0)
        for s in by_op.get(rec["op_id"], ()):
            dur = s["end"] - s["start"]
            jobs_here = per_span.get(s["id"], {})
            root = top(s)
            if root == "build":
                layer["build_jobs"] += jobs_here.get("jobs", 0)
            name = s["name"]
            if name == "build":
                layer["build_s"] += dur
                layer["build_py4j_calls"] += s["py4j_calls"]
            elif name == "plan":
                layer["plan_s"] += dur
            elif name == "execute":
                layer["execute_s"] += dur
                for k in execute:
                    execute[k] += jobs_here.get(k, 0)
            elif name.startswith("sources."):
                layer["read_calls"] += 1
                layer["read_s"] += dur
                layer["read_jobs"] += jobs_here.get("jobs", 0)
            elif name == "streaming.epoch":
                layer["epochs"] += 1
                layer["epoch_s"] += dur
                store = s["store"]
                layer["epoch_s_by_store"][store] = layer["epoch_s_by_store"].get(store, 0) + dur
            elif name == "plans.profile":
                layer["profile_s"] += dur
                layer["profile_jobs"] += jobs_here.get("jobs", 0)
            elif name == "pipeline.readback":
                layer["readback_s"] += dur
        rec["layer"] = layer
        rec["execute"] = execute


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def _per_pass(records: list[dict], value) -> float:
    """Sum over the op list of each op's median ``value(record)``."""
    by_key: dict[str, list[float]] = {}
    for r in records:
        by_key.setdefault(r["key"], []).append(value(r))
    return sum(statistics.median(v) for v in by_key.values())


def end_to_end(records, setup_s, live_mem_mb) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": _per_pass(records, lambda r: r["latency_s"]),
        "pass_cpu_s": _per_pass(records, lambda r: r["cpu_s"]),
        "live_mem_mb": live_mem_mb,
    }


def op_latency(records, attempted: int, failed: int) -> dict:
    """Op-level figures for the report line; p90 needs >= 100 timed ops."""
    lat = [r["latency_s"] for r in records]
    out = {"op_p50_s": statistics.median(lat), "fail_frac": failed / attempted}
    if len(lat) >= 100:
        out["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return out


def per_layer(traced, untraced, setup: dict) -> dict:
    lat = _per_pass(traced, lambda r: r["latency_s"])

    def layer(k):
        return _per_pass(traced, lambda r: r["layer"][k])

    def execute(k):
        return _per_pass(traced, lambda r: r["execute"][k])

    def pct(seconds: float) -> float:
        return 100.0 * seconds / lat

    pipe = [r for r in traced if "pipeline" in r]
    out = {
        "setup.session_s": setup["session_s"],
        "setup.registry_s": setup["registry_s"],
        "setup.warmup_s": setup["warmup_s"],
        "trace.overhead_s": lat - _per_pass(untraced, lambda r: r["latency_s"]),
        "build.time_s": layer("build_s"),
        "build.py4j_calls": layer("build_py4j_calls"),
        "build.eager_jobs": layer("build_jobs"),
        "sources.read_calls": layer("read_calls"),
        "sources.read_s": layer("read_s"),
        "sources.infer_jobs": layer("read_jobs"),
        "plan.time_s": layer("plan_s"),
        "plan.exchanges": _per_pass(traced, lambda r: r.get("exchanges", 0)),
        "execute.time_s": layer("execute_s"),
        "jvm.gc_pct": pct(_per_pass(traced, lambda r: r["gc_s"])),
    }
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"execute.{k}"] = execute(k)
    out.update({
        "streaming.epochs": layer("epochs"),
        "streaming.epoch_pct": pct(layer("epoch_s")),
        "streaming.state_bytes": _per_pass(traced, lambda r: r["state_bytes"]),
        "streaming.files_written": _per_pass(traced, lambda r: r["files_written"]),
        "plans.profile_pct": pct(layer("profile_s")),
        "plans.profile_jobs": layer("profile_jobs"),
        "pipeline.readback_pct": pct(layer("readback_s")),
    })
    for stage in PIPELINE_STAGES:
        out[f"pipeline.stage_pct.{stage}"] = pct(
            _per_pass(pipe, lambda r: r["pipeline"]["stage_s"].get(stage, 0.0))
        )
    attempts = sum(r["pipeline"]["attempts"] for r in pipe)
    out["pipeline.attempts"] = _per_pass(pipe, lambda r: r["pipeline"]["attempts"])
    out["pipeline.useful_attempt_ratio"] = (
        sum(r["pipeline"]["useful"] for r in pipe) / attempts if attempts else 0.0
    )
    return out


def trend(records: list[dict]) -> float | None:
    """Second-half over first-half pass time (1.0 = flat); None if < 2 passes."""
    passes = sorted({r["pass"] for r in records})
    half = len(passes) // 2
    if not half:
        return None
    first = [r for r in records if r["pass"] in passes[:half]]
    second = [r for r in records if r["pass"] in passes[-half:]]
    return _per_pass(second, lambda r: r["latency_s"]) / _per_pass(
        first, lambda r: r["latency_s"]
    )


# ---------------------------------------------------------------------------
# Run stamps
# ---------------------------------------------------------------------------


def source_sha(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "self_healing_data_pipeline_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def main() -> None:
    cfg = json.loads(sys.argv[1])
    root, workload, seed = cfg["root"], cfg["workload"], cfg["seed"]
    traced_run = bool(cfg["trace"])
    sys.path.insert(0, os.path.join(root, "tools"))
    from retime import steal_window

    from self_healing_data_pipeline_spark import registry
    from self_healing_data_pipeline_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    extra = {"spark.ui.showConsoleProgress": "false"}
    if traced_run:
        # Keep every job and stage of the run for span attribution.
        extra.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    t0 = time.perf_counter()
    spark = get_spark(master=master, shuffle_partitions=nproc, extra_conf=extra)
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    setup = {"session_s": t1 - t0, "registry_s": t2 - t1}

    if workload == "ingest_pipeline":
        with open(cfg["ingest_manifest"]) as f:
            ops = [(os.path.basename(t["path"]), t) for t in json.load(f)]
    else:
        ops = [(k, registry.QUERIES[k]) for k in cfg["keys"]]

    from tracer import Tracer

    tracer = Tracer(spark) if traced_run else None
    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    records: list[dict] = []
    errors: list[str] = []
    gate: dict[str, str] = {}
    collected = {}
    attempted = failed = 0
    op_id = 0

    def run_op(key, payload, pass_no, traced, collect=False):
        nonlocal attempted, failed, op_id
        op_id += 1
        rec = {"key": key, "pass": pass_no, "op_id": op_id, "traced": traced}
        tr = tracer if traced else None
        if tr is not None:
            tr.op_id = op_id
            files0 = scratch_files(root)
            gc0 = tr.gc_seconds()
        gc.collect()
        attempted += 1
        jit0 = jit.getTotalCompilationTime()
        cpu0 = tree_cpu_s(os.getpid())
        start = time.perf_counter()
        try:
            if workload == "ingest_pipeline":
                res, profile = run_ingest_op(spark, payload, tr, rec)
                rec["latency_s"] = time.perf_counter() - start
                err = check_ingest(res, profile, payload)
                rec["pipeline"] = pipeline_record(res, rec.pop("wall_start"))
            else:
                out = run_query_op(spark, payload, cfg["tables_dir"], tr, rec, collect)
                rec["latency_s"] = time.perf_counter() - start
                if collect:
                    collected[key] = out
                err = None
        except Exception as exc:  # an op that raises counts as failed
            rec["latency_s"] = time.perf_counter() - start
            err = f"{type(exc).__name__}: {exc}"
        rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        rec["jit_s"] = (jit.getTotalCompilationTime() - jit0) / 1e3
        if tr is not None:
            rec["gc_s"] = tr.gc_seconds() - gc0
            files1 = scratch_files(root)
            new = [p for p, st in files1.items() if files0.get(p) != st]
            rec["files_written"] = len(new)
            rec["state_bytes"] = sum(files1[p][1] for p in new)
        if err is not None:
            failed += 1
            rec["error"] = err
            errors.append(f"{key}: {err}")
        return rec

    def order(pass_no: int) -> list:
        keyed = list(ops)
        random.Random(seed * 1_000_003 + pass_no).shuffle(keyed)
        return keyed

    for key, payload in order(0):
        run_op(key, payload, 0, False, collect=workload != "ingest_pipeline")
    t3 = time.perf_counter()
    setup["warmup_s"] = t3 - t2
    setup_s = time.time() - cfg["spawn_time"]

    steal = steal_window()
    window = cfg["seconds"]
    w0 = time.perf_counter()
    pass_no = 0
    position = {key: i for i, (key, _) in enumerate(ops)}
    n_passes = 2
    while pass_no < n_passes:
        pass_no += 1
        for key, payload in order(pass_no):
            # A traced run traces each op in every other pass, half of the
            # ops in each pass, so drift between passes cancels out of the
            # traced-minus-untraced overhead.
            traced = traced_run and (position[key] + pass_no) % 2 == 0
            if traced:
                tracer.install()
            records.append(run_op(key, payload, pass_no, traced))
            if traced:
                tracer.uninstall()
        if pass_no == 1:
            # The whole number of passes nearest to the window, two at least
            # (the trend check and the traced run's alternation need two).
            n_passes = max(2, round(window / (time.perf_counter() - w0)))
    window_s = time.perf_counter() - w0
    steal_pct = steal()

    # --- outside the timed window -----------------------------------------
    if workload != "ingest_pipeline":
        import datagen
        import duckdb
        from check_oracle import compare

        con = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(cfg["tables_dir"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for key, _ in ops:
            if key not in collected:
                continue  # its warm-up op raised, already counted as failed
            verdict = compare(collected[key], con.execute(registry.ORACLE[key]).df())
            gate[key] = verdict
            if verdict != "OK":
                failed += 1
                errors.append(f"{key}: {verdict}")
        con.close()

    ratio = trend([r for r in records if not r["traced"]])
    valid = ratio is None or ratio >= 1.0 - TREND_LIMIT

    # Drop Python-side handles first: py4j releases the JVM objects they
    # pin only when their proxies are collected.  Each full GC clears weak
    # references that Spark's ContextCleaner then acts on in the background
    # (broadcast and shuffle state), so the live heap is the least reading
    # over a few GC rounds.
    collected.clear()
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap_mb = float("inf")
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        heap_mb = min(heap_mb, mem.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.3)
    nonheap_mb = mem.getNonHeapMemoryUsage().getUsed() / 2**20
    driver_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    live_mem_mb = heap_mb + nonheap_mb + driver_rss_mb

    untraced = [r for r in records if not r["traced"]]
    if traced_run:
        traced_recs = [r for r in records if r["traced"]]
        attribute_jobs(tracer, traced_recs)
        metrics = per_layer(traced_recs, untraced, setup)
    else:
        metrics = end_to_end(untraced, setup_s, live_mem_mb)
    report = dict(end_to_end(untraced, setup_s, live_mem_mb),
                  **op_latency(untraced, attempted, failed))

    import pyspark

    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "run": {
            "workload": workload,
            "seed": seed,
            "trace": int(traced_run),
            "seconds": cfg["seconds"],
            "passes": pass_no,
            "window_s": window_s,
            "trend": ratio,
            "trend_limit": TREND_LIMIT,
            "valid": valid,
            "steal_pct": steal_pct,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "commit": git_commit(root),
            "source_sha": source_sha(root),
            "report": report,
            "setup": dict(setup, setup_s=setup_s),
            "memory_mb": {"heap": heap_mb, "nonheap": nonheap_mb, "driver_rss": driver_rss_mb},
            "gate": gate,
            "errors": errors,
            "ops": records,
        },
    }
    with open(cfg["out"], "w") as f:
        json.dump(result, f)
    if tracer is not None:
        tracer.dump(cfg["out"].replace(".json", ".spans.json"))
    spark.stop()


if __name__ == "__main__":
    main()
