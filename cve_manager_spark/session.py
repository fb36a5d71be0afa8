"""SparkSession factory tuned for the analytics engine.

The reference delegates all execution to PostgreSQL with an index-free
schema (cve_manager.py:22-91) — every query is a sequential scan. Here the
"server" is a Spark cluster; this module centralizes the session settings
that make Catalyst do the work the reference never could:

- AQE on (runtime join-strategy switch, skew splitting, partition coalesce)
- nested-schema pruning on (prunes the huge NVD struct to accessed leaves)
- UTC session timezone (deterministic timestamp semantics vs the DuckDB
  oracle and across clusters)
- Arrow on (fast toPandas / pandas_udf batches)

At 100 TB these are cluster-level defaults; ``tune`` applies the
runtime-settable subset to an externally provided session (the driver
harness passes its own SparkSession to `__spark_entry__.entry`).
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Runtime-settable confs (safe on a live session).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # shuffle width is DERIVED from the session's core count in tune()
    # (one per core, floor 32) — see _shuffle_partitions below. A pinned
    # "32" was right for local[32] but a constant tuned for one
    # deployment is exactly what the optimization guide warns against;
    # 2× cores was also measured and rejected locally (1.24× slower:
    # the persisted shingle index materializes at shuffle width, so
    # doubling partitions doubles cache batches per consumer).
    # events.parquet stores TIMESTAMP(NANOS); read as long + explicit
    # conversion in sources.testdata.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The SQL in-memory cache compresses each column batch on encode
    # (dictionary/RLE per type) — CPU spent on the critical path of every
    # operator that persists an intermediate (shingle index, fingerprint
    # and adjacency relations). This engine's persisted intermediates are
    # digest/id-grain BY DESIGN (documents and payloads never cross a
    # shuffle or a cache), so the uncompressed footprint stays small
    # relative to the corpus and MEMORY_AND_DISK spills gracefully if a
    # cluster is memory-tight. Order-balanced ABBA on the persist-heavy
    # family measured compression-off at 0.75x (r14,
    # OPTIMIZATION_r14.md); re-enable on deployments that cache wide or
    # highly-compressible relations.
    "spark.sql.inMemoryColumnarStorage.compressed": "false",
}


# Static confs (builder-time only — CANNOT_MODIFY_STATIC_CONFIG on a live
# session, so tune() cannot apply them; sessions we build ourselves get
# them, a driver-provided session keeps its own values with identical
# query semantics).
STATIC_CONF = {
    # PySpark 4 wraps EVERY DataFrame API call to capture the Python call
    # site for error messages: one conf round trip + a JVM origin set +
    # clear per call, ~3 extra py4j round trips each. Measured on this
    # engine's query builds: 2776 -> 1176 round trips and 4.96 -> 1.03 s
    # of pure driver time over six representative builds. The cost buys
    # only nicer error call-sites; a throughput driver turns it off
    # (guide §5: the driver should do almost no per-query work).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # ContextCleaner only reclaims out-of-scope RDD/broadcast/checkpoint
    # blocks when a JVM GC runs, and with a large driver heap that can
    # lag far behind: measured locally, localCheckpoint blocks from
    # earlier queries inflated later ones by 1-2+ s until a GC. The
    # periodic-GC safety net drops from its 30-min default to 5 min so
    # a long-running driver's storage memory tracks live state.
    "spark.cleaner.periodicGC.interval": "5min",
    # Batch throughput wants the throughput collector: G1 (the JDK
    # default) optimizes pause times with region scanning/concurrent
    # marking overhead that a pure-batch engine never cashes in, while
    # ParallelGC compacts the young generation's short-lived allocation
    # storm (UnsafeRow copies, codegen scratch, Arrow buffers) with the
    # highest throughput. Order-balanced ABBA over 7 fresh-process runs
    # on 8 heavy headliners: 0.81× min-over-runs, all 8 queries faster,
    # the ParallelGC side under systematically worse host steal
    # (OPTIMIZATION_r14.md). Applied to both roles so a real cluster's
    # executors behave like the local[] executor threads measured here;
    # latency-sensitive serving deployments should keep G1.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
    # The generated-class cache (WholeStageCodegen fragments, unsafe
    # projections, orderings — every Janino compile) holds 100 entries by
    # default; a driver cycling through this engine's ~90-query headline
    # set creates ~1500 compiles per 3-pass bench where ~470 classes are
    # distinct (CodegenMetrics, scripts/ab_conf.py telemetry) — pure LRU
    # thrash, each evicted class recompiled at next use (~5-40 ms each,
    # on the critical path of whatever query triggers it). Sized to hold
    # every distinct unit of a large query portfolio; memory cost is a
    # few KB of bytecode per class. Scale-independent: this is a
    # driver/executor JVM compile cache, not a data-sized structure.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_session(app_name: str = "cve_manager_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in {**STATIC_CONF, **RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)


# Sessions already tuned, by py4j target id of the underlying Java session
# (an attribute read, no JVM round trip). tune() is called on every
# load_table — ~9 py4j conf round trips per call (~8 ms measured) that a
# query path pays once per table it touches; with ~150 table loads per
# bench pass that was ~1 s/pass of pure driver chatter re-setting values
# that never change (optimization guide §5: the driver should do almost no
# per-query work). A fresh Python wrapper over the same JVM session just
# pays one redundant tune; a stopped-and-recreated session gets a new
# target id and is tuned from scratch.
_TUNED: set[str] = set()

# Degraded paths already reported, so each warns once per process.
_WARNED: set[str] = set()


def warn_once(
    logger: logging.Logger, key: str, msg: str, *args, **kwargs
) -> None:
    """Log ``msg`` as a WARNING the first time ``key`` is seen in this
    process: a path that runs degraded (a conf that could not be set,
    cleanup skipped without a SparkContext) says so once instead of
    passing silently or repeating per call."""
    if key not in _WARNED:
        _WARNED.add(key)
        logger.warning(msg, *args, **kwargs)


def _shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle width derived from the session's core count: one
    partition per core, floor 32. Matches the measured local[32]
    optimum exactly (so the bench at any SPARK_GRAFT_CPUS <= 32 is
    unchanged) and grows with the cluster instead of bottlenecking a
    256-core deployment on 32 reducers; AQE's coalescing still shrinks
    tiny stages below the width either way."""
    try:
        return max(32, int(spark.sparkContext.defaultParallelism))
    except Exception:
        warn_once(
            _log, "shuffle_partitions",
            "no SparkContext (Spark Connect?): shuffle partitions fall "
            "back to 32", exc_info=True,
        )
        return 32


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session (once).

    Used on the driver-provided session so query semantics (timezone,
    AQE, pruning) do not depend on who built the session. Idempotent and
    memoized: repeated calls on the same live session are a no-op.
    """
    try:
        key = spark._jsparkSession._target_id
    except Exception:
        key = None  # Spark Connect: no JVM handle; apply unconditionally
    if key is not None and key in _TUNED:
        return spark
    conf = {
        **RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(_shuffle_partitions(spark)),
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable in this deployment — keep going; every
            # conf above is runtime-settable on stock Spark 3.5/4.x.
            warn_once(
                _log, f"conf:{k}", "could not set %s=%s; keeping the "
                "session's value", k, v, exc_info=True,
            )
    if key is not None:
        _TUNED.add(key)
    return spark
