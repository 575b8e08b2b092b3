"""SparkSession construction with defaults tuned for this engine.

The reference app hand-configures its Flink environment
(/root/reference/src/main/java/com/ververica/jobs/TimingExplorer.java:46-77:
state backend, checkpointing, restart strategy). The Spark analog is a
SparkSession with AQE, UTC session time, Arrow transfer, and a shuffle
partition count sized to the deployment. At 100 TB on a 1000-executor
cluster you would raise ``spark.sql.shuffle.partitions`` (or rely on AQE
coalescing from a high initial number); locally we default to the core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level (mutable at runtime) confs every query in this engine assumes.
# Applied defensively in ensure_confs() so the engine behaves identically when
# handed a foreign SparkSession (e.g. the verification driver's).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver-generated events.parquet stores TIMESTAMP(NANOS), which the
    # vectorized parquet reader rejects; read as epoch-nanos long and convert
    # exactly in load() (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# The directory holding this package: Python workers import the engine's
# daemon and UDF modules from it, whatever the JVM's working directory.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "timing-explorer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Managed-table warehouse (bucketed tables) under tmp, not the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/timing-explorer-warehouse"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    extra_conf = dict(extra_conf or {})
    worker_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(p for p in (_PACKAGE_PARENT, worker_path) if p),
    ).config("spark.python.daemon.module", "timing_explorer_spark.worker_daemon")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_confs(spark)
    return spark


def session_key(spark: SparkSession) -> str:
    """Stable identifier for a session: applicationId + JVM sessionUUID,
    memoized on the Python wrapper (one py4j round-trip per wrapper, not per
    call). id(jvm_obj) is NOT usable as a cache key: after a session is
    stopped and GC'd, CPython can hand the same address to a new session,
    which would serve stale cached plans / skip conf pinning."""
    key = getattr(spark, "_tes_session_key", None)
    if key is None:
        try:
            key = f"{spark.sparkContext.applicationId}/{spark._jsparkSession.sessionUUID()}"
        except Exception:  # non-classic session (e.g. Connect) — mint one
            import uuid

            key = f"local-{uuid.uuid4()}"
        try:
            spark._tes_session_key = key
        except Exception:
            # Cannot memoize on this wrapper: return the fresh uuid so every
            # call looks like a NEW session. Cache misses (re-pinned confs,
            # re-read footers) are the safe failure mode; an id()-style
            # fallback could serve another session's cached state.
            pass
    return key


_CONFS_APPLIED: "set[str]" = set()


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs this engine's semantics depend on.

    Safe on any session (these are session-scoped, not cluster-scoped).
    UTC matters most: the DuckDB oracle comparison formats timestamps in UTC.

    Applied once per session (keyed by session_key): this runs on every table
    load, and each conf.set is a py4j round-trip (a 6-table join would
    otherwise pay ~36 driver RPCs before planning starts).
    """
    key = session_key(spark)
    if key in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — defaults apply
    _CONFS_APPLIED.add(key)
    return spark
