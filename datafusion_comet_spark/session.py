"""SparkSession factory with scale-aware defaults.

The reference derives per-task memory limits and shuffle behavior from
Spark config (reference: spark/src/main/scala/org/apache/comet/CometExecIterator.scala:293-326,
native shuffle codecs operator.proto:301-306).  In a single-engine
PySpark build that whole subsystem collapses into session
configuration; the settings below are the 100 TB-posture defaults:

- AQE on (runtime coalesce, skew-join splitting, dynamic join demotion)
- broadcast threshold generous enough that dimension tables of a
  TPC-H-ish star schema broadcast instead of shuffling
- shuffle partition count sized from the env (local[32] in tests;
  a 1000-executor cluster would set SPARK_GRAFT_CPUS accordingly and
  AQE coalesces down from there)
- Arrow-based Python interchange (the idiomatic analogue of the
  reference's Arrow FFI boundary)
- session timezone pinned to UTC (reference carries an explicit
  timezone in every temporal expression, expr.proto:374-396)
- a generated-class cache sized to the engine's working set, and
  generated class names without the codegen stage id, so each codegen
  class is compiled once per JVM rather than on every execution
  (``plans.codegen_compiles`` counts the compiles)

Static confs, the codegen cache size among them, take effect only when
``get_session`` builds the session; a session that already exists
keeps its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # --- adaptive execution: the scale story -------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Let AQE re-optimize (coalesce/skew-split) INSIDE persisted plans.
    # Default false pins a cached aggregate's shuffle output at the full
    # spark.sql.shuffle.partitions count, so every consumer stage of a
    # persist()-based query (tpcds_return_ratio_rank's cand,
    # text_bm25_multiquery's tf) runs |partitions| near-empty tasks of
    # pure scheduling overhead.  True sizes cached partitions from bytes
    # (advisoryPartitionSizeInBytes) — 1 task at sf0.1, advisory-sized
    # at 100 TB.  Measured (dev/cached_coalesce_ab.py, interleaved
    # min-of-9 warm / min-of-3 cold per arm, identical rows):
    # return_ratio_rank warm 0.951→0.660 s, cold 1.30→0.906 s;
    # bm25_multiquery warm 0.936→0.628 s, cold 1.25→1.013 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Prefer hash join when a side is small post-AQE; mirrors the
    # reference's biggest tuned win (replaceSortMergeJoin, BASELINE.md).
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.autoBroadcastJoinThreshold": "32m",
    # --- scan / pushdown ---------------------------------------------------
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # --- python interchange ------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- semantics ---------------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # Parquet INT64(TIMESTAMP_NANOS) columns (events.ts) are unreadable as
    # TimestampType in Spark; read them as raw nanosecond longs and let the
    # catalog normalize to microsecond timestamps (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- codegen -----------------------------------------------------------
    # Spark's generated-class cache (static; default 100 entries) is
    # smaller than the ~450 classes the 29 bench queries compile, so
    # every execution recompiled its classes.  Sized at 2x that working
    # set.  Measured (dev/codegen_cache_probe.py: the bench queries
    # cycled 3x at sf0.01 in one local[4] session): classes compiled
    # per cycle 461/453/453 at 100 entries, 439/0/0 at 1000; third
    # cycle 13.4 -> 10.6 s wall; Metaspace after it 176 -> 169 MB.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # The cache is keyed by generated source, and by default a class's
    # name carries its whole-stage codegen stage id.  AQE numbers stages
    # in the order they are planned, which follows the order shuffle
    # stages finish, so the same code can come back under another id
    # and compile again.  Without the id (explain still prints
    # "*(id)"), the four star_interactive queries cycled 8x in one
    # local[4] session at sf0.001 compile 95 classes once and 0 in all
    # 28 later cycles (4 sessions); with it, 111 and then 4 more in 3
    # of 14 later cycles (2 sessions).
    "spark.sql.codegen.useIdInClassName": "false",
    # --- misc --------------------------------------------------------------
    "spark.ui.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "datafusion-comet-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` which is the
    test/bench environment; on a real cluster the caller passes the
    cluster master (or runs under spark-submit and this just picks up
    the existing session).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(cpus)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    conf.setdefault("spark.driver.memory", driver_mem)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
