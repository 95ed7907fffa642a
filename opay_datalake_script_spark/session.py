"""SparkSession factory with the engine's standard configuration.

Reference analog: the Hive/Presto session settings the Opay DAGs relied on
(map-side aggregation, auto mapjoin, dynamic partition overwrite) — here
expressed as their Spark equivalents (SURVEY.md §4 table). Config choices:

* UTC session timezone: fixture timestamps are timezone-naive; DuckDB (the
  correctness oracle) treats them as naive/UTC, so Spark must agree
  (SURVEY.md §5.3-4).
* Arrow enabled: all Python interop (toPandas, pandas UDFs) is
  Arrow-batched, never row-at-a-time pickling.
* shuffle.partitions=32 + AQE: at local/bench scale, 200 default shuffle
  partitions is pure scheduling overhead; AQE coalesces and re-plans at
  runtime, and at cluster scale handles skew joins.
* autoBroadcastJoinThreshold=64MB: the Hive auto mapjoin setting and the
  engine's single size-based broadcast policy. Catalyst broadcasts a
  join side whose optimized-plan estimate is under it, and AQE
  re-decides from runtime sizes. Explicit ``F.broadcast`` hints sit only
  on sides bounded by something the estimate cannot see (region/nation,
  scalar totals, offset maps, query vectors); the inventory in
  ``tests/test_plans.py`` lists every one.
* dynamic partition overwrite: the Spark equivalent of Hive
  ``INSERT OVERWRITE ... PARTITION`` the reference used for idempotent
  daily reloads.
* driver heap sized to the host (``driver_heap``): in local mode the
  driver JVM is the whole engine, and a heap larger than the memory the
  host or its cgroup grants gets the JVM OOM-killed instead of spilling.
  ``extra_conf={"spark.driver.memory": ...}`` overrides it.
* Python workers run from the engine's daemon (``pyworker``), which
  keeps each task from re-parsing the unchanged Spark zip archives on
  the worker's path, and the package's parent directory is on the
  workers' ``PYTHONPATH``, so the daemon and every UDF that pickles a
  package function import from any working directory.
* the SQL warehouse under the process's scratch root (``sources.io``), so
  a session leaves no ``spark-warehouse/`` in the directory it starts in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.io import SCRATCH_DIR

# Share of the host's memory given to the driver heap. The rest covers
# the JVM's off-heap use (metaspace, Arrow and shuffle buffers), the
# Python workers of pandas UDFs and the page cache of spill files.
HEAP_SHARE = 0.4

# The directory that holds the package, for the Python workers' path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" when unlimited)
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def host_memory_bytes() -> int:
    """Physical memory, capped by the cgroup memory limit if one is set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def driver_heap() -> str:
    """``spark.driver.memory`` for this host: HEAP_SHARE of its memory,
    in whole GiB, at least 1g (6g on a 15.7 GiB host)."""
    return f"{max(1, int(host_memory_bytes() * HEAP_SHARE) >> 30)}g"


def get_spark(
    app_name: str = "opay-datalake-spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or '*'.
    A new session gets the confs below, then ``extra_conf``. Safe to call
    repeatedly: an active session is returned with only ``extra_conf``
    applied to it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Apply ONLY confs the caller explicitly asked for; mutating a
        # session we did not create would override its owner's settings.
        import warnings

        for key, val in (extra_conf or {}).items():
            try:
                active.conf.set(key, val)
            except Exception:
                warnings.warn(
                    f"get_spark: conf {key!r} is static and the session is "
                    "already running; value ignored",
                    stacklevel=2,
                )
        return active
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # events.parquet stores ts as TIMESTAMP(NANOS) which Spark's reader
        # rejects; read it as long and convert in io.load (ns -> us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "opay_datalake_script_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.warehouse.dir", os.path.join(SCRATCH_DIR, "warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
