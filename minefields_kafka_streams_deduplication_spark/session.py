"""SparkSession factory + runtime tuning.

Two paths matter:

* Our own entry points (tests, bench.py) call :func:`get_spark` and get a
  fully configured local session.
* The driver's verify constructs its *own* SparkSession and hands it to
  ``__spark_entry__.entry`` / ``queries()`` callables. That session may
  lack our configs, so every query path calls :func:`tune`, which applies
  only *runtime-settable* SQL confs (all of the ones we need are).

Scale notes (100 TB): the same code runs unchanged on a real cluster —
only ``master`` and memory/shuffle sizing change. ``shuffle.partitions``
here is sized for the local fixtures; at 100 TB you want ~2-3× total
executor cores (or simply AQE coalescing with a high initial value), and
``spark.sql.files.maxPartitionBytes`` of 128-256 MiB so scan tasks stay
memory-bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session (ours or the
# driver's) before running queries.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores ts as INT64 TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects natively; read as raw nanos and convert
    # (catalog.load_table truncates to µs exactly like DuckDB does).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp rendering — matches DuckDB's naive µs.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (skew joins, partition coalescing,
    # broadcast demotion) — essential at scale, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for any pandas interop (vectorized UDF paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold sized for well-provisioned executors: measured
    # 2x on the 6-way join at 100x fixture scale (mid-size dims like a
    # 1.5M-row customer table broadcast instead of shuffling the fact).
    # On memory-tight executors dial back toward the 10m default.
    "spark.sql.autoBroadcastJoinThreshold": "128m",
}


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Also right-sizes `shuffle.partitions` when the session still has the
    stock 200 (e.g. a vanilla driver-created session): 200-way shuffles
    on fixture-scale data are pure scheduling overhead. A deliberate
    non-default setting is left alone.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be non-settable on some builds; queries that
            # depend on it will surface a clear error of their own.
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "minefields-dedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized for this machine."""
    cpus = _cpus()
    # Driver heap: 24g, or 3/4 of physical RAM in whole GiB if that is less.
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or f"{min(24, ram * 3 // 4 // 2**30)}g"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            "-Duser.timezone=UTC -Dderby.system.home=/tmp/derby",
        )
        # Keep catalog artifacts (bucketed tables, metastore) out of the
        # repo working dir. Static conf — effective only at JVM build.
        .config("spark.sql.warehouse.dir", "/tmp/spark_warehouse")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
