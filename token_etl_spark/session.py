"""SparkSession factory.

Replaces the reference's hand-rolled session builder
(reference: src/main/scala/common/Spark.scala:13-19 — local[8], fixed
executor conf) with a factory tuned for correctness-reproducibility
(UTC, ANSI at the Spark default — on in Spark 4) and scale (AQE,
skew-join handling, Arrow, a code-generation cache that holds the
engine's working set).

On a real cluster the same conf applies; only ``master`` changes. The
shuffle-partition count is sized for the local test box via env var and
would be raised (or left to AQE coalescing) at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "token_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession with engine-canonical settings.

    Canonical settings that affect query *semantics* (and therefore the
    DuckDB-oracle hash match):
      - session time zone pinned to UTC (all time bucketing is integer
        arithmetic on unix seconds; see functions/timeops.py),
      - ANSI mode left at the Spark default, which is ON in Spark 4
        (``spark.sql.ansi.enabled=true``): an invalid cast, index or
        overflow raises instead of yielding NULL, so operators must not
        rely on lazy ``CASE`` evaluation to hide one.

    DataFrame call-site capture is off: an analysis or runtime error
    still raises with its error class and message, but its context no
    longer names the Python file and line that built the failing
    expression.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The driver's testdata parquet stores timestamps as INT64
        # TIMESTAMP(NANOS) which vanilla Spark rejects; read them as long
        # nanos and convert in io.sources.load_table (exact integer math).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Testdata timestamps are TIMESTAMP(MICROS) without UTC adjustment;
        # read them as TIMESTAMP (LTZ, session tz = UTC) rather than NTZ so
        # event-time streaming ops accept them (values identical under UTC).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Changelog maps resolve duplicate timestamp keys by last writer
        # (reference behavior on Spark 3.4; entries are pre-sorted so the
        # winner is deterministic — functions/timeops.py).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Generated-class cache (static: read once, when the session is
        # built). Spark's default of 100 is below the working set, so the
        # LRU evicted every class before its query ran again and each
        # run re-compiled (Janino) and re-JITted it. Measured on the
        # perfbench workloads in one session (4 slots): one query_mix
        # pass generates ~280 classes, one token_etl unit ~205, and the
        # query_mix warm-up + 2 units then token_etl warm-up + 2 units
        # retain 567 distinct classes. 1000 holds them with headroom; its
        # cost after that run and a full GC is +16 MB heap (124 → 140 MB)
        # and +4 MB Metaspace (180 → 183 MB). PERF.md, "Codegen cache".
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Keep the codegen stage id out of generated class names. The
        # cache keys on the class text, and AQE numbers stages in the
        # order their inputs finish, so a warm run whose stages finished
        # in another order renamed its classes and compiled them again.
        # Measured on ``ivf_topk`` over the sf0.001 embeddings (16 runs
        # in one session, local[32] on 4 vCPUs): with ids, a reordered
        # warm run compiled 6 classes; without, 0 over 15 warm runs that
        # included two reordered plans. ``ext_knn_label_noise_ivf`` at
        # sf0.01 (local[4], 3 sessions of 8 runs): one warm run per
        # session compiled 6-14 classes with ids, none without. The id
        # stays in the generated code's ``codegenStageId`` comment.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # DataFrame call-site capture (static). On, every Column,
        # DataFrame and ``functions`` call walks the Python stack, tries
        # to import IPython and makes ~4 extra py4j round trips to record
        # its call site for error context. Measured on the perfbench
        # query_mix plan build (4 slots): one pass of the 14 queries
        # made 20.4k round trips with it on and 11.1k with it off, and
        # the builds took 3.68 → 2.64 s. PERF.md, "Plan construction
        # round trips".
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
