"""File sources with the reference's inference-and-freeze semantics.

Reference behavior being re-expressed (SURVEY.md §1.3, §2.1):

- CSV: header row defines columns, empty lines skipped, dynamic typing
  (``automated-data-catalog-&-etl/services/dataProcessingService.ts:8-18``).
  Spark twin: ``spark.read.option("header", True).option("inferSchema", True)``
  — inference over the data, not just the first row.
- JSON: array-of-objects or single object (wrapped to one row)
  (``dataProcessingService.ts:19-27``). Spark twin: ``spark.read.json`` with
  ``multiLine`` for pretty-printed arrays/objects; JSONL handled natively.
- Unsupported extensions raise before any read
  (``dataProcessingService.ts:28-30``).
- Schemas can be *frozen*: inferred once, then re-applied as an explicit
  ``StructType`` contract so later loads cast/reject instead of re-inferring
  (reference freezes via LLM-generated DDL, ``geminiService.ts:101-147``).

The engine applies the same freeze to its own parquet reads. Spark's
schema inference for a parquet path is a Spark job (53-66 ms per sf0.01
table on a 4-core VM); a read with a known schema submits none. The process-level schema
catalog (``_SCHEMA_CATALOG``) therefore resolves each parquet path once:

- key: the absolute path, valid only while :func:`listing_fingerprint` of
  the path is unchanged — ``(size, mtime_ns)`` for a file, the sorted
  ``(name, size, mtime_ns)`` of a directory's entries one level deep — so
  a table or snapshot rewritten at the same path is inferred again;
- value: the inferred ``StructType`` and the NANOS timestamp columns;
- bound: a FIFO of ``_SCHEMA_CATALOG_SIZE`` paths (a constant).

It holds metadata only: every read still lists and scans the files.
``streaming.snapshots.commit_snapshot`` records the schema it wrote, so a
snapshot read back by the process that committed it is never inferred.

Scale notes: these are plain Spark readers, so parquet scans get predicate
pushdown / column pruning / partition pruning from Catalyst for free; CSV and
JSON scans are splittable (uncompressed) and parallelize across executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class UnsupportedFormatError(ValueError):
    """Raised for non-CSV/JSON/Parquet inputs.

    Mirrors the reference's throw at
    ``automated-data-catalog-&-etl/services/dataProcessingService.ts:28-30``.
    """


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer: bool = True,
) -> DataFrame:
    """CSV scan: header-derived columns + dynamic typing (or a frozen schema)."""
    reader = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multi_line: bool = True,
) -> DataFrame:
    """JSON scan; ``multiLine=True`` covers array-of-objects and the
    single-object-wraps-to-one-row rule. JSONL works with ``multi_line=False``.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multi_line:
        reader = reader.option("multiLine", True)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — the analytics-layer store (SURVEY.md §2.1, STORE.md:3).

    Handles parquet INT64 TIMESTAMP(NANOS) columns (Spark has no native
    nanosecond timestamp): reads them as raw nanosecond longs via the
    legacy conf, then converts to TIMESTAMP_NTZ at microsecond precision
    (integer ``div`` — no double round-trip, which would lose precision on
    1.7e18-scale counts; NTZ keeps rendering session-timezone-free).
    ALL engine parquet reads go through here so the conversion is uniform
    regardless of read order (the legacy conf, once set, would otherwise
    make a later plain read silently return bigint nanos).

    The schema comes from the catalog when the path's listing is
    unchanged since it was recorded; otherwise the footer is read and
    Spark infers the schema, and the result is recorded.
    """
    # Fingerprint before inferring: a rewrite racing the read then
    # misses on the next call instead of keeping a stale schema.
    fingerprint = listing_fingerprint(path)
    hit = _entry(path, fingerprint)
    schema, nanos_cols = hit or (None, _nanos_timestamp_columns(path))
    if nanos_cols:
        # Leave the conf on: it is consulted again at scan execution time,
        # and it only affects files that actually contain NANOS columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        out = spark.read.parquet(path)
        _record(path, fingerprint, out.schema, nanos_cols)
    else:
        out = spark.read.schema(schema).parquet(path)
    if not nanos_cols:
        return out
    from pyspark.sql import functions as F

    for name_ in nanos_cols:
        out = out.withColumn(
            name_,
            F.expr(
                "timestamp_ntz '1970-01-01 00:00:00'"
                f" + (INTERVAL 1 SECOND) * ({name_} div 1000000000)"
                f" + (INTERVAL 1 MICROSECOND) * (({name_} % 1000000000) div 1000)"
            ),
        )
    return out


#: Paths the schema catalog holds at most; the oldest is dropped first.
_SCHEMA_CATALOG_SIZE = 256

#: absolute path -> (listing fingerprint, schema, NANOS columns).
_SCHEMA_CATALOG: dict[str, tuple[tuple, T.StructType, tuple[str, ...]]] = {}


def listing_fingerprint(path: str) -> tuple:
    """``(size, mtime_ns)`` of a file; for a directory, the sorted
    ``(name, size, mtime_ns)`` of its entries, one level deep (Spark
    rewrites part files without touching the directory's own mtime)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    stats = ((e.name, e.stat()) for e in os.scandir(path))
    return tuple(sorted((n, st.st_size, st.st_mtime_ns) for n, st in stats))


def _entry(path: str, fingerprint: tuple) -> tuple | None:
    """``(schema, NANOS columns)`` if ``path`` was recorded under
    ``fingerprint``, else None."""
    entry = _SCHEMA_CATALOG.get(os.path.abspath(path))
    return entry[1:] if entry is not None and entry[0] == fingerprint else None


def cataloged_schema(
    path: str, fingerprint: tuple | None = None
) -> T.StructType | None:
    """The schema recorded for ``path`` under ``fingerprint`` (default:
    its listing now), else None."""
    if fingerprint is None:
        fingerprint = listing_fingerprint(path)
    entry = _entry(path, fingerprint)
    return None if entry is None else entry[0]


def record_schema(
    path: str, schema: T.StructType, fingerprint: tuple | None = None
) -> None:
    """Record ``schema`` (as Spark reads it) under ``fingerprint``
    (default: ``path``'s listing now)."""
    if fingerprint is None:
        fingerprint = listing_fingerprint(path)
    _record(path, fingerprint, schema, [])


def _record(
    path: str, fingerprint: tuple, schema: T.StructType, nanos_cols: list[str]
) -> None:
    key = os.path.abspath(path)
    _SCHEMA_CATALOG.pop(key, None)
    while len(_SCHEMA_CATALOG) >= _SCHEMA_CATALOG_SIZE:
        _SCHEMA_CATALOG.pop(next(iter(_SCHEMA_CATALOG)))
    _SCHEMA_CATALOG[key] = (fingerprint, schema, tuple(nanos_cols))


_READERS = {
    ".csv": read_csv,
    ".json": read_json,
    ".jsonl": lambda spark, path, **kw: read_json(spark, path, multi_line=False, **kw),
    ".parquet": read_parquet,
}


def read_any(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Extension-dispatched read; raises ``UnsupportedFormatError`` otherwise."""
    ext = os.path.splitext(path)[1].lower()
    reader = _READERS.get(ext)
    if reader is None:
        raise UnsupportedFormatError(
            f"Unsupported file format: {ext!r}. Please upload a CSV or JSON file."
        )
    return reader(spark, path, **kwargs)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (``<sf_dir>/<name>.parquet``)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Names of parquet fields typed timestamp[ns] (from the footer).
    Accepts a single file or a Spark-written directory (reads the first
    part file's footer — Spark writes a uniform schema per directory).
    INT96 timestamps (Spark's default output type) are not NANOS
    columns: pyarrow would read them as timestamp[ns] unless coerced."""
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        path = parts[0]
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
        schema = f.schema_arrow
    return [
        schema.field(i).name
        for i in range(len(schema))
        if str(schema.field(i).type).startswith("timestamp[ns")
    ]


def read_csv_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced CSV read that QUARANTINES malformed rows instead of
    silently nulling (PERMISSIVE) or failing the whole load (FAILFAST).

    Returns ``(good, quarantined)``: good rows cast to the frozen schema;
    quarantined rows as their raw text for repair/re-ingest. This is the
    data-level twin of the reference's output-repair gates (it re-parses /
    validates LLM output and routes failures to a recoverable error state,
    ``geminiService.ts:28-47,131-140``): bad input is isolated, the
    pipeline keeps going, nothing is dropped on the floor.

    At 100 TB a single malformed row must not kill an 8-hour load, and
    silent null-coercion poisons downstream aggregates — quarantine is the
    only shape that scales operationally. The cache() is required: Spark
    computes the corrupt-record column during parsing, and filtering on it
    without materialization is rejected (SPARK-21610).
    """
    from pyspark.sql import functions as F

    aug = T.StructType(
        list(schema.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(aug)
        .csv(path)
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_record")
    )
    return good, quarantined


def read_media_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Media-file ingestion via Spark's binaryFile source: each file
    becomes one row (path, modificationTime, length, content) — the
    scan-side half of the multimodal pipeline (payloads then flow through
    ``operators.multimodal.extract_features``). ``pathGlobFilter``
    restricts by extension engine-side, before any bytes are read.

    At scale: files >``maxPartitionBytes`` stay one-per-partition, many
    small files coalesce by size — executor memory is bounded by file
    size, and the listing distributes. Media ID derives from the path so
    re-ingest is stable.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    from pyspark.sql import functions as F

    df = reader.load(path)
    return df.select(
        F.xxhash64("path").alias("media_id"),
        F.col("path"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )
