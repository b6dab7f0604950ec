"""Sources (SURVEY §2.1 S1-S5, S8-S10).

The reference reads from Postgres JDBC (Spark.scala:65-69,
TransferEnricher.scala:36-51 for the partitioned range scan), ArangoDB
collections/AQL (Spark.scala:56-63, BaseEnricher.scala:27-59), and a
multiline JSON side-file (DappEnricher.scala:29). Here the storage
substrate is Parquet: collection scans become partition-pruned Parquet
scans, and AQL predicate pushdown becomes Catalyst filter pushdown —
``.explain`` shows PushedFilters reaching the scan, no custom code needed.

JDBC remains available via :func:`read_jdbc_ranged` for source parity; the
partitioned range-scan options mirror TransferEnricher.scala:41-46.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Columns stored as INT64 TIMESTAMP(NANOS) in the driver's parquet. With
#: ``spark.sql.legacy.parquet.nanosAsLong`` they surface as LongType nanos;
#: we convert via integer division (``div 1000`` → micros, truncating —
#: identical to DuckDB's nanos→micros coercion, so oracles agree).
_NANO_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the engine's semantic session confs to an externally-created
    session (the driver's verify harness passes its OWN SparkSession to
    entry()/queries() — it won't have gone through session.get_spark).
    All confs set here are runtime-settable SQL confs.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The testdata stores timestamps as TIMESTAMP(MICROS, isAdjustedToUTC
    # =false); by default Spark 4 surfaces these as TIMESTAMP_NTZ, which
    # watermarks/event-time ops reject and which diverges from the LTZ
    # semantics every oracle was validated under. With the session pinned
    # to UTC, reading them as TIMESTAMP (LTZ) is value-identical.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


#: Memoized logical plans per (session, sf_dir, table). The testdata
#: tables are immutable, and ``spark.read.parquet`` launches a 1-task
#: schema/footer job per call — building 91 query plans would re-list and
#: re-infer every table dozens of times. One read per session instead;
#: DataFrames are immutable plans, so sharing the root scan is safe.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table (S1/S3 analog: full-collection scan)."""
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        for col in _NANO_TS_COLS.get(name, ()):
            if col in df.columns and dict(df.dtypes)[col] == "bigint":
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        _TABLE_CACHE[key] = df
    return df


def read_json_registry(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Multiline-JSON side-file source (S5; DappEnricher.scala:29)."""
    reader = spark.read.option("multiline", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc_ranged(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 8,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Partitioned JDBC range scan (S2; TransferEnricher.scala:36-51).

    The reference hand-writes ``(SELECT * FROM t WHERE col BETWEEN lo AND
    hi) tmp`` and splits it into 8 partitions; Spark's JDBC source does the
    same split natively given partitionColumn/bounds, and Catalyst pushes
    any additional filters into each partition's WHERE clause.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
