"""Ingestion semantics tests: the reference's parse rules re-expressed
(CSV header+dynamic typing, JSON array/single-object, unsupported-format
rejection, empty-input guard) — FIXTURES.md §2 scenarios."""

from __future__ import annotations

import os
import sys

import pytest

from self_healing_data_pipeline_spark.sources.readers import (
    UnsupportedFormatError,
    read_any,
    read_csv,
    read_json,
    read_table,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from retime import run_counted  # noqa: E402

MESSY_CSV = """cust_id,full_name,email,signup_date,balance,is_active,notes
1,Alice Smith,alice@example.com,2024-01-15,1203.50,true,
2,Bob Jones,,2024-02-01,-50.25,false,vip
3,Carol Díaz,carol@example,2024-02-30,abc,true,"has, comma"
,Dave Null,dave@example.com,,0,maybe,
"""


@pytest.fixture(scope="module")
def messy_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("fixtures") / "messy_customers.csv"
    p.write_text(MESSY_CSV)
    return str(p)


def test_csv_header_and_dynamic_typing(spark, messy_csv):
    df = read_csv(spark, messy_csv)
    assert df.columns == [
        "cust_id",
        "full_name",
        "email",
        "signup_date",
        "balance",
        "is_active",
        "notes",
    ]
    assert df.count() == 4
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["cust_id"] in ("int", "bigint")  # numeric promoted
    assert kinds["balance"] == "string"  # mixed numeric/text → string fallback
    assert kinds["is_active"] == "string"  # mixed boolean/text → string


def test_csv_embedded_comma_quoted(spark, messy_csv):
    row = read_csv(spark, messy_csv).filter("cust_id = 3").collect()[0]
    assert row["notes"] == "has, comma"


def test_json_array_of_objects(spark, tmp_path):
    p = tmp_path / "orders.json"
    p.write_text(
        '[{"order_id": 100, "total": 19.98}, {"order_id": 101, "total": 0}]'
    )
    df = read_json(spark, str(p))
    assert df.count() == 2
    assert set(df.columns) == {"order_id", "total"}


def test_json_single_object_wraps_to_one_row(spark, tmp_path):
    p = tmp_path / "one.json"
    p.write_text('{"order_id": 100, "total": 19.98}')
    df = read_json(spark, str(p))
    assert df.count() == 1


def test_json_nested_schema(spark, tmp_path):
    p = tmp_path / "nested.json"
    p.write_text(
        '[{"order_id": 100, "customer": {"id": 1, "name": "Alice"},'
        ' "items": [{"sku": "A1", "qty": 2, "price": 9.99}]}]'
    )
    df = read_json(spark, str(p))
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["customer"].startswith("struct<")
    assert kinds["items"].startswith("array<struct<")


def test_unsupported_format_rejected(spark, tmp_path):
    p = tmp_path / "data.xlsx"
    p.write_text("not really excel")
    with pytest.raises(UnsupportedFormatError):
        read_any(spark, str(p))


def test_empty_csv_header_only(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("a,b,c\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["a", "b", "c"]
    assert df.count() == 0


def test_events_nanos_timestamp_readable(spark, sf_dir):
    # The second read is a schema-catalog hit; it must still convert.
    for _ in range(2):
        ev = read_table(spark, sf_dir, "events")
        # naive parquet nanos → NTZ (session-timezone-independent rendering)
        assert dict((f.name, f.dataType.simpleString()) for f in ev.schema.fields)[
            "ts"
        ] == "timestamp_ntz"
        first = ev.orderBy("event_id").first()
        assert first["ts"].year == 2024


def test_nanos_parquet_converted_on_every_read(spark, tmp_path):
    """An INT64 TIMESTAMP(NANOS) column reads as TIMESTAMP_NTZ at
    microsecond precision both when inferred and on a catalog hit."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from self_healing_data_pipeline_spark.sources.readers import read_parquet

    path = str(tmp_path / "ns.parquet")
    ns = 1_704_067_200_123_456_789  # 2024-01-01 00:00:00.123456789
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([ns], pa.timestamp("ns"))}),
        path,
        version="2.6",
    )
    for _ in range(2):
        df = read_parquet(spark, path)
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert df.first()["ts"] == datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)


def test_spark_written_timestamps_are_not_nanos(spark, tmp_path):
    """Spark writes timestamps as INT96, which pyarrow reports as
    timestamp[ns] unless coerced; they must read as plain timestamps."""
    from self_healing_data_pipeline_spark.sources.readers import read_parquet

    path = str(tmp_path / "ts.parquet")
    src = spark.sql("SELECT 1 AS id, TIMESTAMP '2024-01-01 10:05:00' AS ts")
    src.write.parquet(path)
    df = read_parquet(spark, path)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.collect() == src.collect()


def _jobs_in_group(spark, group, fn):
    """Spark jobs submitted while ``fn()`` runs under job group ``group``."""
    return run_counted(spark, fn, group)[0]


def test_table_rewritten_in_place_is_read_fresh(spark, tmp_path):
    """The schema catalog is keyed on the file listing: a table rewritten
    at the same path (a new column and new rows) is inferred again."""
    sf = str(tmp_path)
    path = os.path.join(sf, "t.parquet")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(path)
    assert sorted(read_table(spark, sf, "t").collect()) == [(1, "a")]
    assert read_table(spark, sf, "t").columns == ["id", "s"]  # catalog hit
    spark.createDataFrame(
        [(2, "b", 2.5), (3, "c", 3.5)], "id long, s string, x double"
    ).write.mode("overwrite").parquet(path)
    df = read_table(spark, sf, "t")
    assert df.columns == ["id", "s", "x"]
    assert sorted(df.collect()) == [(2, "b", 2.5), (3, "c", 3.5)]


def test_committed_snapshot_resolves_without_a_job(spark, tmp_path):
    """A snapshot this process committed is read with its recorded schema
    (no inference job); a copy of it at a new path is inferred."""
    import shutil

    from self_healing_data_pipeline_spark.streaming.snapshots import (
        commit_snapshot,
        read_all_snapshots,
        read_latest_snapshot,
    )

    state = str(tmp_path / "state")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    commit_snapshot(df, state, 0)
    commit_snapshot(df, state, 1)
    assert _jobs_in_group(
        spark, "catalog-hit", lambda: read_latest_snapshot(spark, state).schema
    ) == 0
    assert _jobs_in_group(
        spark, "catalog-hit-all", lambda: read_all_snapshots(spark, state).schema
    ) == 0
    copy = str(tmp_path / "copy")
    shutil.copytree(state, copy)
    assert _jobs_in_group(
        spark, "catalog-miss", lambda: read_latest_snapshot(spark, copy).schema
    ) > 0
    assert sorted(read_all_snapshots(spark, state).collect()) == [(1, "a")] * 2


def test_copied_snapshots_union_inferred_once_per_listing(spark, tmp_path):
    """Epochs another process committed: ``read_all_snapshots`` infers
    their union once per listing of the store, and again once an epoch
    is rewritten."""
    import shutil

    from self_healing_data_pipeline_spark.streaming.snapshots import (
        commit_snapshot,
        read_all_snapshots,
    )

    state = str(tmp_path / "state")
    for e in range(3):
        df = spark.createDataFrame([(e, "a")], "id long, s string")
        commit_snapshot(df, state, e)
    copy = str(tmp_path / "copy")
    shutil.copytree(state, copy)

    def read():
        return read_all_snapshots(spark, copy).schema

    assert _jobs_in_group(spark, "union-miss", read) == 1
    assert _jobs_in_group(spark, "union-hit", read) == 0
    spark.createDataFrame([(9, "b")], "id long, s string").write.mode(
        "overwrite"
    ).parquet(os.path.join(copy, "batch=1"))
    assert _jobs_in_group(spark, "union-rewritten", read) == 1
    assert sorted(read_all_snapshots(spark, copy).collect()) == [
        (0, "a"),
        (2, "a"),
        (9, "b"),
    ]


def test_schema_catalog_is_bounded(tmp_path):
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.sources import readers

    schema = T.StructType([T.StructField("id", T.LongType())])
    paths = [
        tmp_path / f"f{i}.parquet" for i in range(readers._SCHEMA_CATALOG_SIZE + 10)
    ]
    for p in paths:
        p.write_bytes(b"x")
        readers.record_schema(str(p), schema)
        assert len(readers._SCHEMA_CATALOG) <= readers._SCHEMA_CATALOG_SIZE
    assert readers.cataloged_schema(str(paths[0])) is None  # oldest evicted
    assert readers.cataloged_schema(str(paths[-1])) == schema
    paths[-1].write_bytes(b"yy")
    assert readers.cataloged_schema(str(paths[-1])) is None  # listing changed


def test_csv_quarantine_splits_good_and_malformed(spark, tmp_path):
    from pyspark.sql import types as T

    from self_healing_data_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,amount,label\n"
        "1,10.5,ok\n"
        "2,not_a_number,bad\n"  # malformed: amount not numeric
        "3,30.25,ok\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("label", T.StringType()),
        ]
    )
    good, bad = read_csv_with_quarantine(spark, str(p), schema)
    good_rows = {r["id"]: r["amount"] for r in good.collect()}
    assert good_rows == {1: 10.5, 3: 30.25}
    bad_rows = [r["raw_record"] for r in bad.collect()]
    assert bad_rows == ["2,not_a_number,bad"]


def test_partition_pruned_scan_reads_only_matching_year(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_scan_partition_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan
    got = df.count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import functions as F

    assert got == orders.filter(F.year("o_orderdate") == 1997).count()


def test_read_media_dir_binary_files(spark, tmp_path):
    from self_healing_data_pipeline_spark.operators.multimodal import (
        extract_features,
        png_bytes,
    )
    from self_healing_data_pipeline_spark.sources.readers import read_media_dir

    (tmp_path / "a.png").write_bytes(png_bytes(32, 16) + b"body")
    (tmp_path / "b.png").write_bytes(png_bytes(800, 600))
    (tmp_path / "notes.txt").write_text("not media")
    media = read_media_dir(spark, str(tmp_path), glob="*.png")
    rows = media.collect()
    assert len(rows) == 2  # txt filtered engine-side by pathGlobFilter
    assert all(r["n_bytes"] == len(r["payload"]) for r in rows)
    assert len({r["media_id"] for r in rows}) == 2  # stable ids from path
    # and the payloads flow straight into the multimodal extractor
    feats = {
        r["media_id"]: r
        for r in extract_features(
            media.select("media_id", "payload")
        ).collect()
    }
    dims = sorted((f["width"], f["height"]) for f in feats.values())
    assert dims == [(32, 16), (800, 600)]
