"""The epoch-snapshot layout, owned here and nowhere else.

Seven foreachBatch state stores persist through this module:
``streaming.cdc``, ``streaming.rollup``, ``streaming.heavy_hitters``,
``streaming.cascade`` (registry and counters), ``streaming.dedup_registry``
and ``streaming.neardup_registry`` (registry and accepted output), and
``streaming.incremental_join`` (two sides and the view). Each store
directory holds one parquet snapshot per epoch, ``<dir>/batch=<epoch_id>``;
no other module builds that path.

* **Commit.** :func:`commit_snapshot` overwrites the epoch's directory,
  so a replayed epoch rewrites the same bytes. Spark's commit protocol
  writes ``_SUCCESS`` last; a crash mid-write leaves a footerless
  directory (only ``_temporary`` inside) that must never be read —
  resolving it fails ``UNABLE_TO_INFER_SCHEMA`` on every restart, a
  permanent crash loop on the recovery path. Every reader here therefore
  sees only ``_SUCCESS``-marked epochs.
* **Read.** foreachBatch is at-least-once: epoch N can re-run after its
  own snapshot committed. A merge that read the newest snapshot would
  then read its OWN output (additive merges double-count), so stores
  pass ``before_epoch=N`` and replay re-derives the same bytes from the
  same inputs. Resolution is gap-tolerant: a store that skips an epoch
  resolves the newest committed epoch below the anchor. A commit
  records the schema it wrote in the parquet schema catalog
  (``sources.readers``), keyed on the listing it just committed, and
  readers resolve schemas there: reading back a snapshot this process
  committed submits no schema-inference job, while a snapshot from an
  earlier process (or one rewritten since) is inferred once, and so is
  the union :func:`read_all_snapshots` reads over such epochs (recorded
  under the listing of every epoch).
* **Retain.** :func:`prune_snapshots` keeps the newest ``keep``
  committed epochs and never touches a directory above the newest
  committed one (a write that may still be in flight).

Scale notes: pure driver-side directory listing — one ``listdir`` of
epoch directories (hundreds, pruned by retention), never a data scan.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from self_healing_data_pipeline_spark.sources.readers import (
    cataloged_schema,
    listing_fingerprint,
    read_parquet,
    record_schema,
)


def _path(state_dir: str, epoch_id: int) -> str:
    return os.path.join(state_dir, f"batch={epoch_id}")


def _epoch_dirs(state_dir: str) -> list[int]:
    """Every epoch directory, committed or not."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("batch=") and d.split("=", 1)[1].isdigit()
    )


def committed_epochs(state_dir: str, before_epoch: int | None = None) -> list[int]:
    """Sorted epoch ids with a complete (``_SUCCESS``-marked) snapshot,
    optionally restricted to epochs strictly below ``before_epoch``."""
    return [
        e
        for e in _epoch_dirs(state_dir)
        if (before_epoch is None or e < before_epoch)
        and os.path.exists(os.path.join(_path(state_dir, e), "_SUCCESS"))
    ]


def commit_snapshot(df: DataFrame, state_dir: str, epoch_id: int) -> None:
    """Write ``df`` as the epoch's snapshot (an idempotent overwrite) and
    record its schema as Spark will read it back: every field nullable."""
    path = _path(state_dir, epoch_id)
    df.write.mode("overwrite").parquet(path)
    record_schema(path, _as_nullable(df.schema))


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable, the schema
    Spark gives a file source."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def read_latest_snapshot(
    spark: SparkSession, state_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Newest committed snapshot (strictly below ``before_epoch`` when
    given), or None if no complete snapshot exists yet."""
    epochs = committed_epochs(state_dir, before_epoch)
    if not epochs:
        return None
    return read_parquet(spark, _path(state_dir, epochs[-1]))


def read_all_snapshots(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Union of every committed epoch's snapshot (one scan over all of
    them), or None before the first commit — the read side of the
    per-epoch output stores. The schema is the recorded one when every
    epoch has the same recorded schema; otherwise Spark infers it once
    per listing of its epochs."""
    epochs = committed_epochs(state_dir)
    if not epochs:
        return None
    paths = [_path(state_dir, e) for e in epochs]
    # Listed before any inference: an epoch rewritten while the union is
    # inferred then misses on the next call.
    listings = [listing_fingerprint(p) for p in paths]
    schemas = [cataloged_schema(p, fp) for p, fp in zip(paths, listings)]
    if schemas[0] is not None and all(s == schemas[0] for s in schemas):
        return spark.read.schema(schemas[0]).parquet(*paths)
    # Epochs this process did not commit: the union is recorded under the
    # store's epoch glob, keyed on every epoch's listing, and never under
    # one epoch, whose own schema may differ from the union.
    union_key = os.path.join(state_dir, "batch=*")
    union_fp = tuple(zip(epochs, listings))
    union = cataloged_schema(union_key, union_fp)
    if union is not None:
        return spark.read.schema(union).parquet(*paths)
    out = spark.read.parquet(*paths)
    record_schema(union_key, out.schema, union_fp)
    return out


def prune_snapshots(state_dir: str, keep: int = 2) -> list[int]:
    """Retention: drop every epoch directory below the newest ``keep``
    committed snapshots and return the pruned epoch ids.

    Only committed epochs count toward ``keep``, and nothing above the
    newest committed epoch is touched, so a crashed or in-flight write
    never costs a committed snapshot. Keep ≥2 so a reader that resolved
    the previous head mid-prune still finds its files. Replay of the
    last epoch needs its strictly-prior snapshot, so prune only after
    the stream's checkpoint has committed past it (from a scheduled
    maintenance task, not inside foreachBatch)."""
    committed = committed_epochs(state_dir)
    kept = committed[-keep:] if keep > 0 else []
    if len(kept) == len(committed):
        return []
    cutoff = kept[0] if kept else committed[-1] + 1
    doomed = [e for e in _epoch_dirs(state_dir) if e < cutoff]
    for e in doomed:
        shutil.rmtree(_path(state_dir, e), ignore_errors=True)
    return doomed
