"""Spans and counters for the traced run, recorded from outside the program.

The tracer wraps public functions of the engine (``sources.readers``, the
streaming ``apply_*`` functions, the profiler and the pipeline's read-back)
by replacing module attributes, and restores them on ``uninstall``; the
worker opens the op-level spans (build, plan, execute) itself.  Each span tags the Spark jobs it submits with its
own job group, so the status store can attribute every job to the
innermost span that ran it.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import sys
import time

# The epoch stores the query workload drives: store -> its apply function.
_STREAM_APPLY = {
    "dedup_registry": "apply_dedup_batch",
    "cdc": "apply_changes_batch",
}
PKG = "self_healing_data_pipeline_spark"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.py4j_calls = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _group(self, span_id: int | None) -> None:
        """Tag the jobs this thread submits next; not counted as a py4j call."""
        calls = self.py4j_calls
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span_id is None else f"span{span_id}"
        )
        self.py4j_calls = calls

    # -- wrappers ------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, **attrs) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with tracer.span(name, **attrs):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the engine's layer entry points (idempotent per install)."""
        import py4j.clientserver
        import py4j.protocol

        from self_healing_data_pipeline_spark.pipeline import runner
        from self_healing_data_pipeline_spark.plans import profiler
        from self_healing_data_pipeline_spark.sources import readers

        send = py4j.clientserver.ClientServerConnection.send_command
        release = py4j.protocol.MEMORY_COMMAND_NAME
        tracer = self

        def counting_send(conn, command, *a, **kw):
            # Releases of collected proxies follow Python's GC timing, so
            # only the calls the program makes are counted.
            if not command.startswith(release):
                tracer.py4j_calls += 1
            return send(conn, command, *a, **kw)

        py4j.clientserver.ClientServerConnection.send_command = counting_send
        self._patches.append(
            (py4j.clientserver.ClientServerConnection, "send_command", send)
        )
        # read_table is imported by name into each query module.
        orig_read_table = readers.read_table
        self._wrap(readers, "read_table", "sources.read_table")
        wrapped_read_table = readers.read_table
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and mod is not readers
                and getattr(mod, "__name__", "").startswith(PKG)
                and getattr(mod, "read_table", None) is orig_read_table
            ):
                setattr(mod, "read_table", wrapped_read_table)
                self._patches.append((mod, "read_table", orig_read_table))
        self._wrap(readers, "read_any", "sources.read_any")
        self._wrap(profiler, "profile_dataframe", "plans.profile")
        self._wrap(runner, "verify_readback", "pipeline.readback")
        import importlib

        for store, fn_name in _STREAM_APPLY.items():
            mod = importlib.import_module(f"{PKG}.streaming.{store}")
            self._wrap(mod, fn_name, "streaming.epoch", store=store)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- JVM-side reads --------------------------------------------------
    def gc_seconds(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3

    def status_store(self) -> tuple[list[dict], dict[int, dict]]:
        """All jobs and stages in Spark's status store, as plain dicts."""
        jvm = self.sc._jvm
        scala_mod = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(scala_mod)
        store = self.sc._jsc.sc().statusStore()
        every = jvm.java.util.ArrayList()  # an empty filter selects all
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(every)))
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(every, False, False, no_quantiles, every)
        ))
        return jobs, {s["stageId"]: s for s in stages if s.get("status") == "COMPLETE"}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.rec = {"name": name, "op": tracer.op_id, **attrs}

    def __enter__(self):
        t = self.t
        self.rec["id"] = len(t.spans)
        self.rec["parent"] = t.stack[-1] if t.stack else None
        t.spans.append(self.rec)
        t.stack.append(self.rec["id"])
        t._group(self.rec["id"])
        self.py4j0 = t.py4j_calls
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["py4j_calls"] = t.py4j_calls - self.py4j0
        if exc[0] is not None:
            self.rec["error"] = repr(exc[1])
        t.stack.pop()
        t._group(t.stack[-1] if t.stack else None)
        return False
