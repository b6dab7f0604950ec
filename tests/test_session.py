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


def test_generated_classes_survive_a_new_stage_number(spark):
    """A pipeline compiled as one query's first codegen stage is reused
    when another query runs it as its second: the stage id is not part
    of the generated class name, so AQE finishing a warm run's stages in
    another order (and numbering them differently) compiles nothing."""
    a = spark.range(0, 1000, 1, 2).selectExpr("id * 1019 AS x").where("x % 5 = 1")
    b = spark.range(0, 1000, 1, 2).selectExpr("id + 1019 AS x").where("x % 11 = 2")
    expected = sorted(b.collect() + a.collect())

    before = _compiles(spark)
    assert sorted(b.union(a).collect()) == expected
    assert _compiles(spark) - before == 0


def test_dataframe_call_site_capture_is_off(spark):
    """The session turns off PySpark's per-call stack capture: with it
    on, every Column, DataFrame and ``functions`` call walks the Python
    stack and makes extra py4j round trips to record its call site."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def _round_trips(spark, monkeypatch, build) -> int:
    """py4j calls into the JVM made while ``build()`` runs (after one
    untimed call, so lazy class lookups are not counted). The release
    messages py4j sends when Python garbage-collects a JVM reference are
    not calls, and their timing depends on the collector: not counted."""
    import gc

    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith(release)
        return send(command, *args, **kwargs)

    build()
    gc.collect()
    monkeypatch.setattr(client, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return n


def test_plan_construction_round_trips(spark, monkeypatch):
    """Building a plan costs about one py4j round trip per API call (a
    Column operation on an existing Column is exactly one), and the
    widest expression builders cost the same at any width: each is one
    parsed expression, not one Python-built Column per element."""
    from token_etl_spark.operators.dedup import _banded, minhash_sig_expr, minhash_signatures
    from token_etl_spark.operators.similarity import lsh_bucket

    c = F.col("x")
    assert _round_trips(spark, monkeypatch, lambda: [c + i for i in range(50)]) <= 55

    shingled = spark.createDataFrame([(1, "a b c")], "id long, shingle string")
    sigs = spark.createDataFrame([(1, list(range(64)))], "id long, sig array<int>")

    def widths(build, narrow, wide) -> tuple[int, int]:
        return (
            _round_trips(spark, monkeypatch, lambda: build(narrow)),
            _round_trips(spark, monkeypatch, lambda: build(wide)),
        )

    for narrow, wide in (
        widths(lambda n: minhash_sig_expr("sh", n), 8, 64),
        widths(lambda n: minhash_signatures(shingled, n), 8, 64),
        widths(lambda n: _banded(sigs, n, 64), 4, 16),
        widths(lambda n: lsh_bucket("v", [[0.5, -0.25]] * n), 4, 16),
    ):
        assert narrow == wide
