"""SparkSession factory.

The reference delegates all execution to Postgres 15 (docker-compose.yml:3)
and pandas; here the session IS the engine. Defaults are tuned for the test
harness (single JVM, ``local[$SPARK_GRAFT_CPUS]``) but every setting is the
one we would also want on a real multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  join-strategy fallback) — the 100 TB posture knob.
- UTC session timezone — the reference normalizes timestamps to naive UTC
  (airflow/dags/spacex_api_dag.py:40 ``tz_convert(None)``), and the DuckDB
  oracle compares timestamps as UTC.
- Arrow enabled — all pandas interchange (Pandas UDFs, createDataFrame)
  goes through Arrow batches. REST ingest (``sources.rest_api.normalize``)
  hands Spark an Arrow table itself, whatever this conf says, so no Python
  worker touches the raw batch; its ``load_ts`` crosses as a UTC instant
  and keeps process-local semantics (a naive stamp is local wall time,
  as in ``TimestampType.toInternal``), not the UTC session timezone's.
- Driver heap ``SPARK_GRAFT_DRIVER_MEM``, by default half of physical
  memory and at most 16g (``default_driver_memory``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of
    physical memory, at most 16g. A heap as large as the host lets one
    long-lived JVM grow until the kernel's OOM killer ends it; half leaves
    room for the JVM's off-heap memory, Python and the OS."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):  # no sysconf (non-POSIX)
        return "16g"
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def build_session(
    app_name: str = "spacex-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as LONG
        # everywhere, by construction. Set at build time, not per-read:
        # restoring the conf after a lazy read breaks the deferred scan,
        # and a session-wide flip mid-flight would silently change later
        # reads (ADVICE r1). catalog.table owns the ns→us conversion.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
