from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark.operators.skew import salted_aggregate, salted_join


def _skewed(spark, n=5000):
    # 90% of rows share one hot key
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )


def test_salted_aggregate_equals_plain(spark):
    df = _skewed(spark)
    plain = {
        (r["k"],): (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r["k"],): (r["s"], r["n"], r["mn"], r["mx"])
        for r in salted_aggregate(
            df, ["k"],
            {"s": ("sum", "v"), "n": ("count", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
        ).collect()
    }
    assert plain == salted


def test_salted_join_equals_plain(spark):
    big = _skewed(spark, 2000)
    small = spark.createDataFrame([("hot", 1.5), ("cold", 2.0)], ["k", "w"])
    plain = sorted(map(tuple, big.join(small, "k").select("k", "v", "w").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k").select("k", "v", "w").collect()))
    assert plain == salted


def test_salted_aggregate_rejects_nonmergeable(spark):
    df = _skewed(spark, 10)
    try:
        salted_aggregate(df, ["k"], {"a": ("avg", "v")})
        raise AssertionError("should have raised")
    except ValueError as e:
        assert "avg" in str(e)


def test_skew_profile_ranks_hot_keys(spark):
    """A planted 60/30/10 split must rank k0 > k1 > k2 with exact counts
    and shares; two-phase pre-rank must equal the naive global window
    regardless of bucket count."""
    from token_etl_spark.operators.skew import skew_profile

    rows = [("k0",)] * 60 + [("k1",)] * 30 + [("k2",)] * 10
    df = spark.createDataFrame(rows, ["key"])
    for n_buckets in (1, 4, 64):
        out = skew_profile(df, ["key"], top_k=2, n_buckets=n_buckets).collect()
        assert [(r["rank"], r["key"], r["n"], r["share"]) for r in sorted(out, key=lambda r: r["rank"])] == [
            (1, "k0", 60, 0.6),
            (2, "k1", 30, 0.3),
        ]


def test_skew_profile_deterministic_ties(spark):
    """Equal-count keys order by the key columns, not partition luck."""
    from token_etl_spark.operators.skew import skew_profile

    rows = [("b",), ("a",), ("c",)] * 5
    df = spark.createDataFrame(rows, ["key"]).repartition(8)
    out = skew_profile(df, ["key"], top_k=3).collect()
    assert [r["key"] for r in sorted(out, key=lambda r: r["rank"])] == ["a", "b", "c"]


def test_salted_join_left_keeps_unmatched_and_null_keys(spark):
    """A left salted join equals the plain left join row for row: big-side
    rows with no partner and rows with a NULL key survive with NULL
    small-side columns (the salt hashes the whole row, so a NULL key still
    lands in exactly one salt)."""
    from collections import Counter

    big = spark.range(2000).select(
        F.when(F.col("id") % 10 < 3, F.lit(None).cast("long"))
        .when(F.col("id") % 10 < 8, F.lit(1))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    plain = big.join(small, "k", "left")
    salted = salted_join(big, small, "k", n_salts=8, how="left")
    assert salted.count() == 2000
    # Counter, not sorted(): None keys are unorderable against ints
    assert Counter(map(tuple, salted.select("k", "v", "name").collect())) == Counter(
        map(tuple, plain.select("k", "v", "name").collect())
    )
    assert salted.filter(F.col("k").isNull()).count() == 600


def test_salt_spreads_a_hot_key_over_every_salt(spark):
    """The salt is a pure function of the row: a hot key's rows cover
    all ``n`` salts, and a second evaluation assigns the same salt to
    every row (no rand(), so a retried task re-partitions identically)."""
    from token_etl_spark.operators.skew import _salt

    df = _skewed(spark, 4000)
    salted = df.withColumn("s", _salt(df, None, 8))
    per_salt = {
        r["s"]: r["n"]
        for r in salted.filter(F.col("k") == "hot").groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_salt) == set(range(8))
    # 3,600 hot rows over 90 distinct (k, v) rows: no salt holds most of them
    assert max(per_salt.values()) < 3600 // 2
    first = [r["s"] for r in df.select(_salt(df, None, 8).alias("s")).collect()]
    second = [r["s"] for r in df.select(_salt(df, None, 8).alias("s")).collect()]
    assert first == second
