"""SparkSession construction and session hygiene.

The engine runs on any SparkSession (the correctness driver passes its own),
so configuration is split into:

- :func:`build_session` — the session we create ourselves (tests, bench,
  pipeline CLI): UTC, AQE on, sane local-mode shuffle parallelism.
- :func:`ensure_runtime_confs` — runtime-settable confs the engine needs that
  are safe to apply to a session we did not create. Called by the readers so
  driver-owned sessions work too.

Scale posture (100 TB): AQE handles skew-join splitting and shuffle-partition
coalescing at runtime; shuffle partitions here are a local-mode default — on a
real cluster AQE's coalescing makes the initial number far less sensitive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs the engine relies on.  Applied lazily (and
# idempotently) by io.readers so they also take effect on driver sessions.
_RUNTIME_CONFS: dict[str, str] = {
    # The driver's synthetic events.parquet stores TIMESTAMP(NANOS) which
    # Spark's parquet reader rejects by default; read as long + convert
    # (io.readers.load_table does the conversion to a proper timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Reference semantics: casts coerce to NULL on failure
    # (reference src/helper/helper.py:110-126 pd.to_datetime(errors="coerce")).
    # We use try_* functions in plans, so ANSI mode can stay on; session
    # timezone is pinned to UTC to make timestamp semantics deterministic
    # (reference strips timezones and works in UTC, src/helper/helper.py:113).
    "spark.sql.session.timeZone": "UTC",
    # The synthetic parquet stores tz-less TIMESTAMP(MICROS); Spark 4 would
    # infer TIMESTAMP_NTZ, which functions like unix_micros reject.  Read as
    # session-tz TIMESTAMP instead — identical wall-clock semantics under the
    # pinned UTC session, and what DuckDB's naive TIMESTAMP compares to.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine needs; safe on any session."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # Conf not settable at runtime on this build — plans that depend
            # on it fail loudly later, which is the right place to see it.
            pass
    # Scan-parallelism floor, derived from THIS session's cluster width
    # (never a constant): without it, a mid-size table whose files
    # bin-pack into a handful of 128 MB splits scans "narrow but large"
    # — wide enough that splitting is free, narrow enough that
    # io.readers.widen_if_narrow would fall back to a full round-robin
    # shuffle of the data (measured: the 10x-tier lineitem packed into
    # ~3 splits and tpch_q1 paid a 6M-row repartition, 2.5 s -> 54 s).
    # With the floor, scans fan out to file/row-group granularity for
    # free and the widen guard correctly skips.  Single-row-group test
    # files are unaffected (parquet cannot split inside a row group).
    try:
        par = spark.sparkContext.defaultParallelism
        key = "spark.sql.files.minPartitionNum"
        if spark.conf.get(key, None) != str(par):
            spark.conf.set(key, str(par))
    except Exception:
        pass
    return spark


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` does not set one: half
    the host's physical memory, capped at 24g.  A fixed 24g let a driver
    on a 15 GB host grow until the kernel killed it."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 24 * 1024)}m"


def build_session(
    app_name: str = "door2door-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession configured for this engine.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS`` (driver contract); on a
    real cluster pass ``master=None`` with external conf and only the
    semantic confs below apply.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime shuffle coalescing, skew-join splitting, dynamic
        # broadcast selection — the core of the 100 TB posture.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for the (rare) pandas-UDF paths and fast toPandas in tests.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
