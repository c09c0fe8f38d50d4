"""Self-healing staged pipeline runner — the reference's core behavior.

Re-expresses the reference's step state machine and failure handling
(SURVEY.md §0, §3):

- ``AppStep`` enum {Upload, AnalyzingSchema, ReviewSchema, GeneratingSql,
  ReviewSql, ProcessingDb, Done, Error} (``App.tsx:18-27``) →
  ``PipelineStep``.
- Per-stage try/except with structured severity-tagged logs
  (``App.tsx:47-52``, ``types.ts:16-21`` ``EtlLogEntry``) →
  ``EtlLogEntry`` records.
- Recoverable Error state + clean-slate reset (``App.tsx:67-86``) →
  ``PipelineResult.ok=False`` + ``reset()``; the pipeline object can
  always be re-run.
- Output-validation gates (JSON re-parse fallback ``geminiService.ts:28-47``,
  ``CREATE TABLE`` prefix check ``geminiService.ts:131-140``) → per-stage
  ``validate`` callables, with retry.
- Load-then-read-back verification, where read-back failure is a WARNING
  not a failure (``App.tsx:192-199``) → ``verify_readback``.
- Load copies the parsed rows into the database, after which the table no
  longer depends on the file (``pgliteService.ts:51-78``) → the Upload
  stage parses the file once into a local checkpoint, and the loaded
  table is a materialized snapshot of the upload: profiling, the freeze
  cast, the read-back and every later scan read those blocks, never the
  file again.

Plus what a Spark pipeline needs that a browser app doesn't: retry with
exponential backoff (transient executor/IO failures are the norm at
1000-executor scale) and idempotent stage outputs. Every exception is
retried except a rejected input (``UnsupportedFormatError``, or
``RejectedInputError`` for a file with no data rows): the same input fails
the same way on every attempt, so that stage goes to ERROR after one
attempt.
"""

from __future__ import annotations

import enum
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from self_healing_data_pipeline_spark.sources.readers import UnsupportedFormatError


class PipelineStep(enum.Enum):
    UPLOAD = "Upload"
    ANALYZING_SCHEMA = "AnalyzingSchema"
    REVIEW_SCHEMA = "ReviewSchema"
    GENERATING_SQL = "GeneratingSql"
    REVIEW_SQL = "ReviewSql"
    PROCESSING_DB = "ProcessingDb"
    DONE = "Done"
    ERROR = "Error"


@dataclass
class EtlLogEntry:
    """Structured log record (shape of types.ts:16-21)."""

    timestamp: float
    step: str
    message: str
    severity: str = "info"  # info | warning | error


class RejectedInputError(ValueError):
    """An input that no retry can make usable, such as a file with no data
    rows. Like ``UnsupportedFormatError``, it fails its stage after one
    attempt."""


#: Deterministic input rejections: never retried.
_REJECTED_INPUT = (RejectedInputError, UnsupportedFormatError)


class StageError(RuntimeError):
    def __init__(self, stage: str, cause: BaseException):
        super().__init__(f"stage {stage!r} failed: {cause}")
        self.stage = stage
        self.cause = cause


@dataclass
class Stage:
    name: str
    fn: Callable[[Any], Any]
    validate: Callable[[Any], bool] | None = None
    retries: int = 2
    backoff_sec: float = 0.5


@dataclass
class ReviewGate:
    """Human-review checkpoint — the reference's ReviewSchema / ReviewSql
    steps (``App.tsx:246-254,283-291``), where the user inspects the
    proposed schema/SQL, optionally edits it, and approves or aborts.

    ``approver(value)`` returns ``True``/``False`` to approve/hold, or
    ``(True, edited_value)`` to approve with an edit (the reference's
    textarea-edit-then-continue flow). ``approver=None`` auto-approves —
    headless/scheduled runs proceed unattended, with the auto-approval
    recorded in the log for audit.

    Rejection PAUSES the pipeline (``paused=True``, step stays at the
    review step) rather than erroring: state is intact and the same run
    can be re-issued with an approving callable — the resume shape of the
    reference's review loop.
    """

    name: str
    approver: Callable[[Any], bool | tuple[bool, Any]] | None = None


@dataclass
class PipelineResult:
    ok: bool
    step: PipelineStep
    value: Any = None
    logs: list[EtlLogEntry] = field(default_factory=list)
    lineage: Any = None  # plans.lineage.LineageLog when the flow records it
    paused: bool = False  # True = held at a ReviewGate, not failed


class SelfHealingPipeline:
    """Staged execution with per-stage healing.

    Each stage: run → validate → on failure retry with backoff → on
    exhaustion transition to ERROR with the failure logged and the
    pipeline left reusable (clean-slate semantics of App.tsx:67-86).
    A rejected input (``_REJECTED_INPUT``) skips the remaining retries.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.logs: list[EtlLogEntry] = []
        self.step = PipelineStep.UPLOAD

    def log(self, message: str, severity: str = "info") -> None:
        self.logs.append(
            EtlLogEntry(time.time(), self.step.value, message, severity)
        )

    def reset(self) -> None:
        """Clean-slate healing (reference resetState, App.tsx:67-86)."""
        self.logs = []
        self.step = PipelineStep.UPLOAD

    def run(
        self, stages: list[Stage | ReviewGate], initial: Any = None
    ) -> PipelineResult:
        value = initial
        for stage in stages:
            try:
                self.step = PipelineStep(stage.name)
            except ValueError:
                pass  # custom stage name: keep the current step
            if isinstance(stage, ReviewGate):
                value, ok = self._run_review(stage, value)
                if not ok:
                    return PipelineResult(
                        False, self.step, value, list(self.logs), paused=True
                    )
                continue
            value, ok = self._run_stage(stage, value)
            if not ok:
                self.step = PipelineStep.ERROR
                return PipelineResult(False, self.step, None, list(self.logs))
        self.step = PipelineStep.DONE
        self.log("pipeline complete")
        return PipelineResult(True, self.step, value, list(self.logs))

    def _run_review(self, gate: ReviewGate, value: Any) -> tuple[Any, bool]:
        if gate.approver is None:
            self.log(f"{gate.name}: auto-approved (no reviewer attached)")
            return value, True
        verdict = gate.approver(value)
        approved, new_value = (
            (verdict[0], verdict[1]) if isinstance(verdict, tuple) else (verdict, value)
        )
        if not approved:
            self.log(f"{gate.name}: held for review — pipeline paused", "warning")
            return value, False
        if new_value is not value:
            self.log(f"{gate.name}: approved with edits")
        else:
            self.log(f"{gate.name}: approved")
        return new_value, True

    def _run_stage(self, stage: Stage, value: Any) -> tuple[Any, bool]:
        last_exc: BaseException | None = None
        for attempt in range(stage.retries + 1):
            if attempt:
                delay = stage.backoff_sec * (2 ** (attempt - 1))
                self.log(
                    f"{stage.name}: retry {attempt}/{stage.retries} after {delay}s",
                    "warning",
                )
                time.sleep(delay)
            try:
                out = stage.fn(value)
                if stage.validate is not None and not stage.validate(out):
                    raise ValueError(f"{stage.name}: output failed validation gate")
                self.log(f"{stage.name}: ok")
                return out, True
            except Exception as exc:  # per-stage catch (App.tsx:119-124)
                last_exc = exc
                self.log(
                    f"{stage.name}: {exc}\n{traceback.format_exc(limit=3)}",
                    "error",
                )
                if isinstance(exc, _REJECTED_INPUT):
                    break  # every retry would fail the same way
        reason = str(last_exc)
        if isinstance(last_exc, _REJECTED_INPUT):
            reason = f"input rejected: {reason}"
        self.log(f"{stage.name}: exhausted retries ({reason})", "error")
        return value, False


def verify_readback(
    spark: SparkSession, table: str, n: int = 10
) -> tuple[DataFrame | None, str | None]:
    """Post-load verification read (SELECT * LIMIT n) — failure here is a
    warning, not fatal: the load already succeeded (App.tsx:192-199)."""
    try:
        df = spark.table(table).limit(n)
        df.collect()
        return df, None
    except Exception as exc:
        return None, f"read-back verification failed: {exc}"


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` frame now rather than at
    the ContextCleaner's next pass."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def ingest_file_pipeline(
    spark: SparkSession,
    path: str,
    table_name: str | None = None,
    schema_approver: Callable[[Any], bool | tuple[bool, Any]] | None = None,
    sql_approver: Callable[[Any], bool | tuple[bool, Any]] | None = None,
) -> PipelineResult:
    """The reference's EP1→EP3 flow end-to-end (SURVEY.md §3), Spark-first:
    parse → empty-guard → profile → [ReviewSchema] → freeze schema →
    DDL gate → [ReviewSql] → load → read-back verify.

    The two review gates mirror the reference's approve/edit checkpoints
    (``App.tsx:246-254,283-291``); with no approver attached they
    auto-approve so headless runs are unchanged.

    The file is parsed once. Upload wraps the parse in a lazy
    ``localCheckpoint``, and the empty-guard's ``isEmpty`` job both
    proves the upload has a row and fills the checkpoint's blocks (a
    file split into several partitions takes one more job for the
    partitions ``isEmpty`` did not read; a rejected upload's blocks are
    released at once). Everything after reads those blocks, so the
    loaded table is a materialized snapshot of the upload, as the
    reference's copy into PGlite is: deleting or rewriting the file
    afterwards does not change it, and re-ingesting a rewritten file
    loads the new rows (the checkpoint is not matched by path the way
    ``cache()`` is). A replaced upload's blocks are freed by Spark's
    ContextCleaner once nothing references them. Trade-off: the blocks
    live on the executors, so losing one (an executor lost) fails reads
    of the table instead of re-reading the file; re-ingesting the file
    heals it.
    """
    from self_healing_data_pipeline_spark.functions.scalar import sanitize_identifier
    from self_healing_data_pipeline_spark.plans.catalog import (
        schema_to_struct,
        struct_to_ddl,
    )
    from self_healing_data_pipeline_spark.plans.lineage import LineageLog
    from self_healing_data_pipeline_spark.plans.profiler import (
        _ident,
        profile_dataframe,
    )
    from self_healing_data_pipeline_spark.sources.readers import read_any

    import os

    name = table_name or sanitize_identifier(os.path.basename(path))
    pipe = SelfHealingPipeline(spark)
    lineage = LineageLog(run_id=f"ingest:{name}:{int(time.time())}")

    def parse(_):
        t0 = time.time()
        df = read_any(spark, path).localCheckpoint(eager=False)
        if df.isEmpty():
            _release_checkpoint(df)
            raise RejectedInputError("The file contains no data rows.")
        lineage.record("Upload", [path], f"{name}:raw", df, t0)
        return df

    def profile(df):
        t0 = time.time()
        prof = profile_dataframe(df, name)
        lineage.record("AnalyzingSchema", [f"{name}:raw"], f"{name}:profile", None, t0)
        return (df, prof)

    def freeze(state):
        t0 = time.time()
        df, schema = state
        struct = schema_to_struct(schema)
        ddl = struct_to_ddl(name, struct)
        # DDL validation gate (geminiService.ts:138-140).
        if not ddl.upper().startswith("CREATE TABLE"):
            raise ValueError("generated DDL failed CREATE TABLE gate")
        casted = df.selectExpr(
            *[
                f"CAST({_ident(f.name)} AS {f.dataType.simpleString()})"
                f" AS {_ident(f.name)}"
                for f in struct.fields
            ]
        )
        lineage.record(
            "GeneratingSql", [f"{name}:raw", f"{name}:profile"], f"{name}:frozen",
            casted, t0,
        )
        return (casted, ddl)

    def load(state):
        t0 = time.time()
        df, _ddl = state
        df.createOrReplaceTempView(name)
        lineage.record("ProcessingDb", [f"{name}:frozen"], name, df, t0)
        return name

    result = pipe.run(
        [
            Stage("Upload", parse),
            Stage("AnalyzingSchema", profile),
            ReviewGate("ReviewSchema", schema_approver),
            Stage("GeneratingSql", freeze),
            ReviewGate("ReviewSql", sql_approver),
            Stage("ProcessingDb", load),
        ]
    )
    result.lineage = lineage
    if result.ok:
        _, warn = verify_readback(spark, name)
        if warn:
            pipe.log(warn, "warning")
            result.logs.append(pipe.logs[-1])
    return result
