from __future__ import annotations

from token_etl_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 200), (3, "u", 50), (4, "v", 100)],
        "event_id long, user string, ts long",
    )
    right = spark.createDataFrame(
        [("u", 90, "r90"), ("u", 150, "r150"), ("w", 10, "rw")],
        "user string, rts long, tag string",
    )
    return left, right


def test_asof_backward_join(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="user", left_ts="ts", right_ts="rts",
                    right_payload=["rts", "tag"])
    got = {r["event_id"]: (r["rts"], r["tag"]) for r in out.collect()}
    assert got[1] == (90, "r90")     # latest rts <= 100
    assert got[2] == (150, "r150")   # latest rts <= 200
    assert got[3] == (None, None)    # no right row at/before 50
    assert got[4] == (None, None)    # user v has no right rows
    assert len(got) == 4             # all left rows preserved


def test_asof_equal_ts_inclusive(spark):
    left = spark.createDataFrame([(1, "u", 100)], "event_id long, user string, ts long")
    right = spark.createDataFrame([("u", 100, "exact")], "user string, rts long, tag string")
    incl = asof_join(left, right, "user", "ts", "rts", ["tag"]).collect()[0]
    assert incl["tag"] == "exact"  # <= semantics: equal ts is visible


def test_range_join_matches_naive_theta(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from token_etl_spark.operators.asof import range_join

    base = dt.datetime(2024, 1, 1)
    lrows = [(i, 1, base + dt.timedelta(seconds=i * 700)) for i in range(10)]
    rrows = [(j, 1, base + dt.timedelta(seconds=j * 500 + 250)) for j in range(14)]
    left = spark.createDataFrame(lrows, "lid long, k long, lts timestamp")
    right = spark.createDataFrame(rrows, "rid long, k long, rts timestamp")

    got = {
        (r.lid, r.rid)
        for r in range_join(left, right, ["k"], "lts", "rts", lower=0, upper=1000).collect()
    }
    naive = {
        (r.lid, r.rid)
        for r in left.join(right, "k")
        .filter(
            F.unix_timestamp("rts").between(
                F.unix_timestamp("lts"), F.unix_timestamp("lts") + 1000
            )
        )
        .collect()
    }
    assert got == naive and len(got) > 0


def test_range_join_negative_lower_window(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from token_etl_spark.operators.asof import range_join

    base = dt.datetime(2024, 6, 1)
    left = spark.createDataFrame(
        [(0, 1, base)], "lid long, k long, lts timestamp"
    )
    right = spark.createDataFrame(
        [
            (0, 1, base - dt.timedelta(seconds=50)),
            (1, 1, base + dt.timedelta(seconds=50)),
            (2, 1, base + dt.timedelta(seconds=500)),
        ],
        "rid long, k long, rts timestamp",
    )
    got = {
        r.rid
        for r in range_join(
            left, right, ["k"], "lts", "rts", lower=-100, upper=100
        ).collect()
    }
    assert got == {0, 1}
