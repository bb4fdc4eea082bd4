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
  memory and at most 16g (``default_driver_memory``). It and
  ``SPARK_GRAFT_CPUS`` are checked before any JVM starts: a malformed
  value raises a ``ValueError`` naming the variable.
- Stop is prompt (``_prompt_stop``). PySpark's ``SparkContext.stop()``
  ends with ``_accumulatorServer.shutdown()``, which returns only when
  the server thread notices the request. That thread sits in one of two
  polls: ``socketserver.serve_forever``'s 0.5 s ``select``, or, once a
  Python-worker task has reported accumulator updates, the update
  handler's 1 s ``select`` on the JVM's still-open connection. Every
  restart waited out one of them: up to 0.5 s, or about 1 s after
  Python-worker tasks, where the JVM's own stop takes about 35 ms.
  ``build_session`` gives each context's server a shutdown that wakes
  both polls first.
- A restart recompiles every query stage. Spark 4.1.2 keys its
  generated-code cache (``CodeGenerator$.cache``) by the context class
  loader as well as the code, and each SparkContext builds a new
  executor class loader, so the first run of a query on a new context
  compiles all its stages with Janino again, where a repeat on the same
  context compiles none. At sf0.001 on a 4-core host (``local[4]``),
  five restarts each: ``fct_orders_by_year`` compiles 6 classes, median
  406 ms (342–563) on a new context vs 306 ms (223–404) repeated;
  ``window_top3_orders_per_customer`` compiles 11 classes, 388 ms
  (341–418) vs 233 ms (207–284).
- No Python call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  PySpark 4 walks the Python stack and makes about three JVM calls for
  every Column function (``F.col``, ``F.sum``, ...), to record where in
  user code each expression was built; that was most of the py4j
  traffic of building a registry DataFrame. The cost: an analysis error
  (unresolved column, bad cast) no longer names the DataFrame call site
  that built the failing expression, only the expression itself.
  PySpark reads the flag once per process, at the first Column call made
  while a session is active, so a process whose first session did not
  come from ``build_session`` keeps capturing.
"""

from __future__ import annotations

import functools
import os
import re
import socket
import socketserver
import sys

from pyspark.sql import SparkSession

# A JVM memory string as ``-Xmx`` takes it: digits, optional k/m/g/t.
_JVM_MEMORY = re.compile(r"[0-9]+[kmgtKMGT]?")

# socketserver's name-mangled flag that ``serve_forever`` polls.
_SHUTDOWN_REQUEST = "_BaseServer__shutdown_request"


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, or the host's core count when it is unset."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 4
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, got {raw!r}")
    return cpus


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, or ``default_driver_memory()`` when it
    is unset or empty."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not raw:
        return default_driver_memory()
    if not _JVM_MEMORY.fullmatch(raw):
        raise ValueError(
            "SPARK_GRAFT_DRIVER_MEM must be a JVM memory string such as "
            f"4g or 512m (digits, optional k/m/g/t suffix), got {raw!r}"
        )
    return raw


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
    heap = driver_memory()
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
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prompt_stop(spark.sparkContext)
    return spark


def _prompt_stop(sc) -> None:
    """Give ``sc``'s accumulator server a shutdown that does not wait out
    a poll (see the module docstring). Before PySpark's own ``shutdown``
    (which still closes the socket and removes a Unix-socket file) it
    sets the stop flags, wakes ``serve_forever``'s ``select`` with one
    connect, and half-closes any open handler connection so the
    handler's ``select`` returns at EOF; the EOFError that read raises is
    dropped while shutting down. Only this instance changes. A server
    already wrapped, or not of the expected ``socketserver`` shape, is
    left as it is."""
    server = getattr(sc, "_accumulatorServer", None)
    family = getattr(getattr(server, "socket", None), "family", None)
    if (
        not isinstance(server, socketserver.BaseServer)
        or "shutdown" in vars(server)
        or not hasattr(server, _SHUTDOWN_REQUEST)
        or not hasattr(server, "server_shutdown")
        or family not in (socket.AF_INET, socket.AF_INET6, getattr(socket, "AF_UNIX", None))
    ):
        return
    shutdown, finish_request, handle_error = (
        server.shutdown, server.finish_request, server.handle_error
    )
    handling: set[socket.socket] = set()

    def tracked_finish_request(request, client_address):
        handling.add(request)
        try:
            finish_request(request, client_address)
        finally:
            handling.discard(request)

    def quiet_handle_error(request, client_address):
        if not (server.server_shutdown and isinstance(sys.exc_info()[1], EOFError)):
            handle_error(request, client_address)

    @functools.wraps(shutdown)
    def prompt_shutdown():
        server.server_shutdown = True
        setattr(server, _SHUTDOWN_REQUEST, True)
        try:
            with socket.socket(family, socket.SOCK_STREAM) as wake:
                wake.settimeout(1.0)
                wake.connect(server.server_address)
        except OSError:
            pass  # the server is gone already; nothing to wake
        for conn in list(handling):
            try:
                conn.shutdown(socket.SHUT_RD)
            except OSError:
                pass  # closed since it was listed
        shutdown()

    server.finish_request = tracked_finish_request
    server.handle_error = quiet_handle_error
    server.shutdown = prompt_shutdown
