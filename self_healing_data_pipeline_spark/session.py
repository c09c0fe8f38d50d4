"""SparkSession factory tuned for both local testing and cluster scale.

The reference keeps a singleton engine instance and re-initialises it per
dataset (``automated-data-catalog-&-etl/services/pgliteService.ts:4-34``).
Spark's natural twin is one long-lived session; per-run isolation comes from
database/temp-view namespaces, not engine restarts.

Scale posture (100 TB): every knob here is also correct on a 1000-executor
cluster — AQE re-plans joins/skew at runtime, shuffle partitions are sized
by AQE coalescing rather than hand-tuning, and Arrow makes the
pandas-UDF slow path batch-vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Repo-root ``.scratch``: the one place query scratch paths hang from.
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def get_spark(
    app_name: str = "self_healing_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster, ``master`` comes from the environment and the same
    configs hold; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime join-strategy switch, partition coalescing, skew split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamps across engines (DuckDB oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode = driver-only JVM; give it headroom for sf0.1 shuffles
        # (only takes effect when this factory creates the JVM).
        .config("spark.driver.memory", "8g")
        # Arrow for any pandas-UDF / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    # Operator-level A/B rig (guide §1: measure, don't guess): extra
    # session configs from the environment, `k=v;k=v`. Default EMPTY so
    # the driver's bench methodology is unchanged; used by the
    # optimization rounds to measure candidate configs (e.g. join
    # strategy preferences) against the same bench before adopting
    # them as code.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def scratch_path(tag: str, sf_dir: str) -> str:
    """The path :func:`scratch_dir` would return, WITHOUT wiping it or
    sweeping siblings — for code (tests, inspectors) that needs to look
    at a scratch directory some query already built. Single source of
    the naming scheme: ``.scratch/<tag>_<sf-basename>_pid<pid>``."""
    return os.path.join(
        SCRATCH_ROOT,
        f"{tag}_{os.path.basename(os.path.normpath(sf_dir))}_pid{os.getpid()}",
    )


def scratch_dir(tag: str, sf_dir: str) -> str:
    """Fresh per-invocation scratch directory for run-the-machinery
    queries: ``.scratch/<tag>_<sf-basename>_pid<pid>``, wiped at call
    time. The PID suffix keys the path to the calling PROCESS, so
    concurrent drivers (bench + checker, or two SF dirs sharing a
    basename) can never rmtree each other's committed epoch snapshots
    mid-fold; within one process, re-invocation wipes and rebuilds.

    Dead-owner sweep: every call also removes sibling ``*_pid<N>``
    directories whose owning process no longer exists (``kill(pid, 0)``
    raising ``ProcessLookupError``), so finished drivers can't leak an
    unbounded pile of scratch snapshots across bench/checker rounds —
    live concurrent drivers are untouched (their pids probe alive, or
    probe ``PermissionError`` for other-user processes, which counts
    as alive)."""
    import re
    import shutil

    me = os.getpid()
    try:
        siblings = os.listdir(SCRATCH_ROOT)
    except OSError:
        siblings = []
    for name in siblings:
        m = re.search(r"_pid(\d+)$", name)
        if not m or int(m.group(1)) == me:
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(SCRATCH_ROOT, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by someone else
    d = scratch_path(tag, sf_dir)
    shutil.rmtree(d, ignore_errors=True)
    return d
