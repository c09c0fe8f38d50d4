"""Self-healing pipeline runner tests: state machine transitions, retry
with backoff, validation gates, recoverable error state, read-back
verification (reference behaviors per SURVEY.md §0/§3)."""

from __future__ import annotations

import pytest

from self_healing_data_pipeline_spark.pipeline.runner import (
    PipelineStep,
    ReviewGate,
    SelfHealingPipeline,
    Stage,
    ingest_file_pipeline,
)


def test_happy_path_reaches_done(spark):
    pipe = SelfHealingPipeline(spark)
    result = pipe.run(
        [Stage("Upload", lambda _: 1), Stage("ProcessingDb", lambda x: x + 1)]
    )
    assert result.ok and result.value == 2
    assert result.step == PipelineStep.DONE
    assert [l.severity for l in result.logs] == ["info", "info", "info"]


def test_retry_heals_transient_failure(spark):
    attempts = {"n": 0}

    def flaky(_):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise IOError("transient")
        return "ok"

    pipe = SelfHealingPipeline(spark)
    result = pipe.run([Stage("Upload", flaky, retries=3, backoff_sec=0.01)])
    assert result.ok and result.value == "ok"
    assert attempts["n"] == 3
    assert any(l.severity == "warning" for l in result.logs)  # retries logged


def test_exhausted_retries_transition_to_error_state(spark):
    pipe = SelfHealingPipeline(spark)
    result = pipe.run(
        [Stage("Upload", lambda _: 1 / 0, retries=1, backoff_sec=0.01)]
    )
    assert not result.ok
    assert result.step == PipelineStep.ERROR
    assert any(l.severity == "error" for l in result.logs)
    # recoverable: reset gives a clean slate (App.tsx:67-86 twin)
    pipe.reset()
    assert pipe.step == PipelineStep.UPLOAD and pipe.logs == []


def test_validation_gate_rejects_bad_output(spark):
    pipe = SelfHealingPipeline(spark)
    result = pipe.run(
        [Stage("GeneratingSql", lambda _: "DROP TABLE x",
               validate=lambda s: s.startswith("CREATE TABLE"),
               retries=1, backoff_sec=0.01)]
    )
    assert not result.ok and result.step == PipelineStep.ERROR


def test_ingest_file_pipeline_end_to_end(spark, tmp_path):
    p = tmp_path / "people report.csv"  # space → sanitized table name
    p.write_text("id,name,score\n1,ann,9.5\n2,bo,7.25\n")
    result = ingest_file_pipeline(spark, str(p))
    assert result.ok, [l.message for l in result.logs]
    loaded = spark.table("people_report")
    assert loaded.count() == 2
    kinds = {f.name: f.dataType.simpleString() for f in loaded.schema.fields}
    assert kinds == {"id": "bigint", "name": "string", "score": "double"}


def test_ingest_quotes_header_names(spark, tmp_path):
    """Header cells are column names, not SQL: a dot, a space, a backtick
    or a double quote in one must survive the freeze cast and the DDL."""
    from self_healing_data_pipeline_spark.plans.catalog import struct_to_ddl

    names = ["a.b", "c d", "`q`", 'x"y']
    p = tmp_path / "odd_headers.csv"
    p.write_text(",".join(names) + "\n1,ann,2.5,7\n2,bo,3.5,8\n")
    result = ingest_file_pipeline(spark, str(p))
    assert result.ok, [l.message for l in result.logs]
    assert not any(l.severity == "warning" for l in result.logs)  # no retry
    loaded = spark.table("odd_headers")
    assert loaded.columns == names
    assert sorted(tuple(r) for r in loaded.collect()) == [
        (1, "ann", 2.5, 7),
        (2, "bo", 3.5, 8),
    ]
    ddl = struct_to_ddl("odd_headers", loaded.schema)
    assert '\n  "x""y" ' in ddl, ddl


def test_ingest_records_lineage(spark, tmp_path):
    p = tmp_path / "lin.csv"
    p.write_text("a,b\n1,2\n3,4\n")
    result = ingest_file_pipeline(spark, str(p))
    assert result.ok
    stages = [r.stage for r in result.lineage.records]
    assert stages == ["Upload", "AnalyzingSchema", "GeneratingSql", "ProcessingDb"]
    # impact analysis: everything downstream of the raw parse
    assert result.lineage.downstream_of("lin:raw") == [
        "lin",
        "lin:frozen",
        "lin:profile",
    ]
    ldf = result.lineage.to_dataframe(spark)
    assert ldf.count() == 4
    assert ldf.filter("output = 'lin'").collect()[0]["output_schema"].startswith(
        "struct<a:bigint,b:bigint"
    )


def _assert_rejected_after_one_attempt(result):
    assert not result.ok
    assert result.step == PipelineStep.ERROR
    errors = [l.message for l in result.logs if l.severity == "error"]
    assert len(errors) == 2  # the one attempt, then the closing entry
    assert errors[0].startswith("Upload: ")
    assert errors[1].startswith("Upload: exhausted retries (input rejected: ")
    assert not any(l.severity == "warning" for l in result.logs)  # no retry


def test_ingest_empty_file_rejected(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("a,b,c\n")
    _assert_rejected_after_one_attempt(ingest_file_pipeline(spark, str(p)))


def test_ingest_unsupported_format_rejected(spark, tmp_path):
    p = tmp_path / "notes.txt"
    p.write_text("a,b\n1,2\n")
    _assert_rejected_after_one_attempt(ingest_file_pipeline(spark, str(p)))


def test_review_gate_auto_approves_headless(spark, tmp_path):
    p = tmp_path / "auto.csv"
    p.write_text("a,b\n1,2\n")
    result = ingest_file_pipeline(spark, str(p))  # no approvers attached
    assert result.ok and not result.paused
    msgs = [l.message for l in result.logs]
    assert any("ReviewSchema: auto-approved" in m for m in msgs)
    assert any("ReviewSql: auto-approved" in m for m in msgs)


def test_review_gate_rejection_pauses_not_errors(spark, tmp_path):
    p = tmp_path / "held.csv"
    p.write_text("a,b\n1,2\n")
    result = ingest_file_pipeline(spark, str(p), schema_approver=lambda v: False)
    assert not result.ok
    assert result.paused
    assert result.step == PipelineStep.REVIEW_SCHEMA  # held, not ERROR
    # resumable: the same ingest re-issued with approval completes
    again = ingest_file_pipeline(spark, str(p), schema_approver=lambda v: True)
    assert again.ok and not again.paused


def test_review_gate_approve_with_edit_flows_value(spark):
    pipe = SelfHealingPipeline(spark)
    result = pipe.run(
        [
            Stage("Upload", lambda _: "select 1"),
            ReviewGate("ReviewSql", lambda v: (True, v + " -- reviewed")),
            Stage("ProcessingDb", lambda v: v.upper()),
        ]
    )
    assert result.ok
    assert result.value == "SELECT 1 -- REVIEWED"
    assert any("approved with edits" in l.message for l in result.logs)


def test_ingest_parses_the_file_once(spark, tmp_path):
    """The Upload stage materializes the parse: a file deleted after
    profiling (at the schema review) still loads, reads back and scans
    with every row, so nothing after Upload reads the file again."""
    p = tmp_path / "gone.csv"
    p.write_text("id,v\n" + "".join(f"{i},{i * 0.5}\n" for i in range(50)))

    def delete_then_approve(_state):
        p.unlink()
        return True

    result = ingest_file_pipeline(spark, str(p), schema_approver=delete_then_approve)
    assert result.ok, [l.message for l in result.logs]
    assert not p.exists()
    assert not any(l.severity == "warning" for l in result.logs)  # read-back ok
    assert spark.table("gone").count() == 50


def _rows(spark, table: str) -> list[tuple]:
    return sorted(tuple(r) for r in spark.table(table).collect())


def test_ingest_loads_a_snapshot_of_a_rewritten_file(spark, tmp_path):
    """Re-ingesting a file rewritten in place loads its new rows, under
    the same table name and under a new one, while a table loaded from
    the old contents keeps them (a path-matched cache would serve the
    old rows to the re-ingest)."""
    p = tmp_path / "snap.csv"
    p.write_text("k,v\n1,a\n2,b\n")
    assert ingest_file_pipeline(spark, str(p)).ok
    p.write_text("k,v\n10,x\n20,y\n30,z\n")
    assert ingest_file_pipeline(spark, str(p), table_name="snap_new").ok
    assert _rows(spark, "snap_new") == [(10, "x"), (20, "y"), (30, "z")]
    assert _rows(spark, "snap") == [(1, "a"), (2, "b")]
    assert ingest_file_pipeline(spark, str(p)).ok
    assert _rows(spark, "snap") == [(10, "x"), (20, "y"), (30, "z")]


def _stored_rdd_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_reingest_keeps_one_stored_upload_per_table(spark, tmp_path):
    """Ten re-ingests of one path, plus a rejected upload, leave exactly
    one stored RDD: the live table's. A rejected upload releases its
    blocks at once; a replaced upload's blocks go once the JVM collects
    them (Spark's ContextCleaner)."""
    import gc
    import time

    p = tmp_path / "again.csv"
    p.write_text("a,b\n1,2\n3,4\n")
    empty = tmp_path / "again_empty.csv"
    empty.write_text("a,b\n")
    before = _stored_rdd_ids(spark)
    assert not ingest_file_pipeline(spark, str(empty)).ok
    assert _stored_rdd_ids(spark) - before == set()
    for _ in range(10):
        assert ingest_file_pipeline(spark, str(p)).ok
    live = spark.table("again")._jdf.queryExecution().analyzed().collectLeaves()
    live_id = live.head().rdd().id()
    jvm = spark.sparkContext._jvm
    deadline = time.monotonic() + 60
    while _stored_rdd_ids(spark) - before != {live_id} and time.monotonic() < deadline:
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    assert _stored_rdd_ids(spark) - before == {live_id}
    assert spark.table("again").count() == 2
