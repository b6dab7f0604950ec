from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from token_etl_spark.functions.timeops import (
    HOUR,
    bucket,
    changelog,
    require_timestamp,
    unix_seconds,
)


def test_hour_bucket_truncates(spark):
    df = spark.createDataFrame([(3600,), (3601,), (7199,), (7200,)], ["ts"])
    got = [r[0] for r in df.select(bucket(F.col("ts"), HOUR).alias("b")).collect()]
    assert got == [3600, 3600, 3600, 7200]


def test_unix_seconds_truncates_subseconds(spark):
    df = spark.createDataFrame([("2024-01-01 00:00:01.999",)], ["s"])
    got = df.select(unix_seconds(F.col("s").cast("timestamp")).alias("u")).collect()[0][0]
    assert got == 1704067201  # truncated, not rounded


def test_collapse_to_map_global(spark):
    df = spark.createDataFrame([(3600, 1.0), (7200, 2.0)], ["ts", "v"])
    row = df.select(changelog("ts", "v", "m")).collect()[0]
    assert row["m"] == {3600: 1.0, 7200: 2.0}


def test_collapse_to_map_duplicate_ts_last_sorted_wins(spark):
    # Duplicate timestamp keys: entries sorted by (ts, value); the
    # map keeps the last writer → the larger value, deterministically.
    df = spark.createDataFrame([(3600, 5.0), (3600, 1.0), (7200, 2.0)], ["ts", "v"])
    row = df.select(changelog("ts", "v", "m")).collect()[0]
    assert row["m"] == {3600: 5.0, 7200: 2.0}


def test_collapse_to_map_grouped(spark):
    df = spark.createDataFrame(
        [("a", 3600, 1.0), ("a", 7200, 2.0), ("b", 3600, 3.0)], ["k", "ts", "v"]
    )
    rows = {r["k"]: r["m"] for r in df.groupBy("k").agg(changelog("ts", "v", "m")).collect()}
    assert rows == {"a": {3600: 1.0, 7200: 2.0}, "b": {3600: 3.0}}


def test_require_timestamp_passes_values_and_names_pipeline_on_null(spark):
    df = spark.createDataFrame([(3600,), (7200,)], "ts long")
    got = [r[0] for r in df.select(require_timestamp(F.col("ts"), "wallets")).collect()]
    assert got == [3600, 7200]
    bad = spark.createDataFrame([(3600,), (None,)], "ts long")
    with pytest.raises(Exception, match="wallets: a transfer has no timestamp"):
        bad.select(require_timestamp(F.col("ts"), "wallets")).collect()
