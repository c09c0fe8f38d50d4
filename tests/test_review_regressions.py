"""Regression tests for defects found in code review (round 1): each case
reproduces a bug that the oracle/fixture path couldn't catch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.skew import salted_join
from self_healing_data_pipeline_spark.operators.text import regex_tokens, token_count
from self_healing_data_pipeline_spark.plans.catalog import sql_type_of
from self_healing_data_pipeline_spark.sources.tables import load_tables


def test_regex_tokens_runs_without_capture_group(spark):
    df = spark.createDataFrame([("Hello, world 42!",)], "t string")
    toks = df.select(regex_tokens("t").alias("x")).collect()[0]["x"]
    assert toks == ["Hello", ",", "world", "42", "!"]
    n = df.select(token_count("t", mode="regex").alias("n")).collect()[0]["n"]
    assert n == 5


def test_load_tables_handles_nanos_events(spark, sf_dir):
    tables = load_tables(spark, sf_dir, names=("events", "region"))
    assert tables["events"].schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert tables["region"].count() == 5


def test_set_except_is_set_semantics(spark):
    left = spark.createDataFrame([(1,), (1,), (2,)], "v int")
    right = spark.createDataFrame([(1,)], "v int")
    # EXCEPT removes a value entirely if it appears on the right,
    # regardless of left multiplicity
    assert [r["v"] for r in left.subtract(right).collect()] == [2]


def test_sql_type_of_handles_ntz_and_decimal():
    assert sql_type_of("timestamp_ntz") == "TIMESTAMP"
    assert sql_type_of("decimal(18,2)") == "REAL"
    assert sql_type_of("array<int>") == "TEXT"  # unknown → TEXT fallback


def test_profiler_types_ntz_timestamp_as_timestamp(spark, sf_dir):
    from self_healing_data_pipeline_spark.plans.profiler import profile_dataframe
    from self_healing_data_pipeline_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").limit(200)
    prof = {c.column_name: c for c in profile_dataframe(ev, "events").columns}
    assert prof["ts"].inferred_sql_type == "TIMESTAMP"


def test_salted_join_rejects_outer_modes(spark):
    df = spark.createDataFrame([(1, 1)], "k int, v int")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", how="full")


def test_exact_stats_constant_group_stddev_is_zero_not_nan(spark):
    import math

    from self_healing_data_pipeline_spark.operators.aggregates import exact_stats

    df = spark.createDataFrame([("g", 33.33)] * 5000, "g string, x double")
    row = exact_stats(df, "x", ["g"]).collect()[0]
    assert not math.isnan(row["stddev_val"])
    assert row["stddev_val"] == 0.0


def test_minhash_rejects_indivisible_bands(spark):
    from self_healing_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=5)


def test_check_oracle_compare_is_dtype_strict():
    """The driver hashes raw pandas frames, so an int64 Spark column vs a
    float64 DuckDB twin (uncast SUM -> HUGEINT, the q_time_weighted_avg
    r03 failure class) hash-mismatches even with equal values. The local
    gate must flag it, not coerce-and-pass."""
    import pandas as pd

    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_oracle",
        os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    ints = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="int64")})
    floats = pd.DataFrame({"k": [1, 2], "v": pd.array([10.0, 20.0], dtype="float64")})
    verdict = mod.compare(ints, floats)
    assert verdict.startswith("DTYPE MISMATCH"), verdict
    assert mod.compare(ints, ints.copy()) == "OK"
    # unsigned vs signed ints and str-vs-object are NOT driver-visible
    u = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="uint64")})
    assert mod.compare(ints, u) == "OK"


def test_scratch_dir_sweeps_dead_owner_siblings(tmp_path, monkeypatch):
    """Advice r5: scratch paths are PID-keyed, so a finished driver used
    to leak its directory forever. scratch_dir must sweep siblings whose
    owning pid is dead, and leave live owners (our own pid) alone."""
    import os
    import subprocess

    from self_healing_data_pipeline_spark import session as S

    root = tmp_path / ".scratch"
    root.mkdir()
    # a genuinely dead pid: fork a trivial child and wait for it
    child = subprocess.Popen(["true"])
    child.wait()
    dead = root / f"old_sf0.01_pid{child.pid}"
    dead.mkdir()
    (dead / "stale.parquet").write_text("x")
    live = root / f"other_sf0.01_pid{os.getpid()}"
    live.mkdir()
    unsuffixed = root / "not_pid_keyed"
    unsuffixed.mkdir()

    monkeypatch.setattr(S, "SCRATCH_ROOT", str(root))
    d = S.scratch_dir("fresh", "/data/sf0.01")
    assert d == str(root / f"fresh_sf0.01_pid{os.getpid()}")
    assert not dead.exists(), "dead-owner scratch dir must be swept"
    assert live.exists(), "live-owner scratch dir must survive"
    assert unsuffixed.exists(), "non-pid-keyed dirs are not ours to touch"
