from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_generated_classes_survive_a_working_set_of_other_queries(spark):
    """A query re-run after more than 100 other distinct generated
    classes (Spark's default cache size) compiles nothing: the session's
    codegen cache holds the engine's working set, so each class is
    compiled once per session."""

    def query():
        return (
            spark.range(0, 2000, 1, 2)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id").alias("s"), F.max("id").alias("m"))
            .orderBy("k")
            .collect()
        )

    first = query()
    before_flood = _compiles(spark)
    # int literals are inlined into generated code: each query is a
    # class of its own
    for i in range(130):
        spark.range(0, 3, 1, 1).select((F.col("id") * (1000 + i)).alias("v")).collect()
    assert _compiles(spark) - before_flood > 100

    before = _compiles(spark)
    assert query() == first
    assert _compiles(spark) - before == 0
