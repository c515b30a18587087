"""SparkSession construction with the engine's performance conf map.

Mirrors the reference's cluster recommendations (SURVEY.md §4;
reference ``dbc cell@0.5:8-16``): AQE on with coalescing / local
shuffle reader / skew-join handling, 20 MB broadcast threshold,
prefer shuffled-hash over sort-merge join. Databricks-only confs
(IO cache, Delta auto-optimize) are intentionally NOT replicated —
see SURVEY.md §4 for the rationale; small-file compaction is handled
at write time by :mod:`lakehouse_tools_spark.operators.maintenance`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs (safe to apply to an existing session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # reference dbc cell@0.5:14 — 20 MB broadcast threshold
    "spark.sql.autoBroadcastJoinThreshold": str(20 * 1024 * 1024),
    # reference dbc cell@0.5:9 — hash join beats sort-merge when the
    # build side fits per-partition; AQE still falls back when not
    "spark.sql.join.preferSortMergeJoin": "false",
    # DuckDB oracle timestamps are UTC-naive; pin the session TZ so
    # timestamp→string and window boundaries agree across engines
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 3.4+ int96 rebase safety for parquet fixture reads
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # Surface parquet TIMESTAMP(NANOS) as long (sources.tables converts
    # to micros); without this the scan hard-fails on nanos columns
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # let Python DataSource readers receive pushFilters() (off by
    # default in Spark 4.1); sources/pysource.py prunes partitions
    # from the pushed range predicates
    "spark.sql.python.filterPushdown.enabled": "true",
}

# Builder-time confs for sessions we create ourselves.
DEFAULT_CONFS: dict[str, str] = {
    **RUNTIME_CONFS,
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.ui.enabled": "false",
    "spark.driver.memory": "16g",
    # PySpark 4.x decorates every DataFrame/Column API call with a
    # call-site capture for richer analysis-error messages: a Python
    # stack walk plus ~3 extra py4j round trips per call
    # (getActiveSession + conf.get + PySparkCurrentOrigin.set/clear —
    # pyspark/errors/utils.py::_with_origin). That is pure error-
    # message decoration: plans, results, and run-time errors are
    # unchanged with it off; only the "called from <file>:<line>"
    # context line on *analysis* errors is lost. Measured (warm
    # min-of-3 construct over 8 declarative queries): 2.18 s → 1.25 s
    # with it disabled — a ~40% cut of the driver-side
    # query-construction tax that the expression memo cannot reach
    # (it is per-API-call, not per-expression). NOTE: this is a
    # Python-side conf that pyspark caches PROCESS-GLOBALLY on the
    # first DataFrame API call (is_debugging_enabled), so it must be
    # on the session that is active at that first call — which
    # builder-time placement here guarantees for sessions this module
    # creates; setting it later
    # (e.g. via configure()) succeeds but is a no-op for the already-
    # cached flag, and a harness-owned session that made DataFrame
    # calls before importing this package keeps its own setting.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def streaming_state_confs(
    budget_mb: int = 8192,
    track_rows: bool = False,
    rocksdb_provider: bool = True,
) -> dict[str, str]:
    """Bounded-memory RocksDB state-store confs for sustained
    Structured Streaming jobs — pass to ``get_session(extra_confs=
    streaming_state_confs(...))`` or apply with ``spark.conf.set``
    (they are runtime-settable, read at query start).

    Measured, not guessed: a conf A/B on the sf10 TWS
    sessionizer drain (SCALING.md "RocksDB state-store conf A/B on
    the TWS sessionizer drain"; the A/B script is in git history up
    to 638cf5c) found the steady-state FLOOR is
    conf-insensitive (0.94x paired, under the pre-registered 20%
    adoption bar — hence NOT an engine default and the flagship
    curves keep defaults for comparability), but the bounded-memory
    confs collapse the drain churn from a 2.1x spread (63.5-132.5 s
    across six default-conf drains) to 1.19x (59.4-70.7 s) AND hit
    the floor on the FIRST drain. A production deployment running
    sustained stateful streams should want exactly that: first-drain
    latency, run-to-run stability, and a hard per-executor memory
    budget instead of unbounded block-cache growth.

    :param budget_mb: per-executor RocksDB memory cap
        (``maxMemoryUsageMB`` — write buffers + block cache across
        ALL state-store instances on the executor). Size it to
        executor memory minus Spark's own fraction; 8192 matches the
        measured A/B on the 128 GiB test host.
    :param track_rows: keep ``numTotalStateRows`` metrics (each
        put/delete pays an extra lookup; the A/B's ``notrack``
        variant). Off by default — turn on only if dashboards
        consume the metric.
    :param rocksdb_provider: also pin
        ``spark.sql.streaming.stateStore.providerClass`` to the
        RocksDB provider (the rocksdb.* confs are ignored under the
        default HDFS-backed provider; transformWithState requires
        RocksDB anyway — see streaming/tws.py).
    """
    pfx = "spark.sql.streaming.stateStore.rocksdb."
    confs = {
        pfx + "boundedMemoryUsage": "true",
        pfx + "maxMemoryUsageMB": str(int(budget_mb)),
        pfx + "trackTotalNumberOfRows": "true" if track_rows else "false",
    }
    if rocksdb_provider:
        confs["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    return confs


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Used when the session is handed to us (driver harness) and we
    cannot control builder-time settings. Only runtime-settable confs
    are touched; failures on static confs are ignored.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # static conf on a live session — leave as-is
            pass
    return spark


def get_session(
    app_name: str = "lakehouse_tools_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine conf map applied."""
    from lakehouse_tools_spark import backend
    from lakehouse_tools_spark.streaming.tws import ensure_tws_runtime

    # must run BEFORE the JVM launches: transformWithState workers need
    # google.protobuf, and the JVM freezes its env (PYTHONPATH + the
    # protobuf version flag) at launch — see streaming/tws.py
    ensure_tws_runtime()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    confs = {**DEFAULT_CONFS, **backend.delta_builder_confs(), **(extra_confs or {})}
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = backend.finalize_builder(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
