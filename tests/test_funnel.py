"""Funnel + cohort retention (operators/funnel.py) and fuzzy matching
(operators/fuzzy.py): hand-computed fixtures pin the anchored-first
funnel semantics, the cohort triangle, and blocking completeness of the
q-gram Levenshtein join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from token_etl_spark.operators.funnel import (
    funnel_counts,
    funnel_reach,
    funnel_reach_onepass,
    retention_cohorts,
)
from token_etl_spark.operators.fuzzy import fuzzy_join


def _ev(spark, rows):
    base = dt.datetime(2024, 1, 1)
    data = [
        (u, typ, base + dt.timedelta(seconds=s)) for (u, typ, s) in rows
    ]
    return spark.createDataFrame(
        data, "user_id long, event_type string, ts timestamp"
    )


def test_funnel_anchored_first_semantics(spark):
    """u1 fully converts in order; u2's click precedes its only view
    (no conversion past step 1); u3's purchase lands outside the window
    anchored at the FIRST view; u4 never views (absent entirely)."""
    ev = _ev(spark, [
        (1, "view", 0), (1, "click", 10), (1, "purchase", 20),
        (2, "click", 5), (2, "view", 30),           # click before view
        (3, "view", 0), (3, "click", 50), (3, "purchase", 200),
        (4, "click", 0), (4, "purchase", 1),
    ])
    reach = {r["user"]: r for r in funnel_reach(
        ev, ["view", "click", "purchase"], window_s=100
    ).collect()}
    assert set(reach) == {1, 2, 3}
    assert reach[1]["t3"] is not None
    assert reach[2]["t2"] is None and reach[2]["t3"] is None
    assert reach[3]["t2"] is not None and reach[3]["t3"] is None  # 200 > 0+100

    counts = {r["step"]: r for r in funnel_counts(
        ev, ["view", "click", "purchase"], window_s=100
    ).collect()}
    assert [counts[i]["n_users"] for i in (1, 2, 3)] == [3, 2, 1]
    assert counts[3]["pct_of_step1"] == 1 / 3


def test_funnel_onepass_equals_chained_on_real_events(spark, sf_dir):
    """Single-scan vs chained funnel reach on the driver events table:
    row-identical output (the chained form is the equivalence oracle for
    the one-pass plan evt_funnel now runs)."""
    from token_etl_spark.io.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    key = lambda r: (r["user"], r["t1"], r["t2"], r["t3"])  # noqa: E731
    exp = sorted(key(r) for r in funnel_reach(ev, steps, window_s=86_400).collect())
    got = sorted(
        key(r) for r in funnel_reach_onepass(ev, steps, window_s=86_400).collect()
    )
    assert got == exp and got


def test_funnel_greedy_earliest_qualifying(spark):
    """The earliest qualifying event is taken at each step: a click
    BEFORE the first view is ignored, the later one converts."""
    ev = _ev(spark, [(1, "click", 0), (1, "view", 10), (1, "click", 20)])
    r = funnel_reach(ev, ["view", "click"], window_s=100).collect()[0]
    assert r["t2"] is not None
    assert r["t2"] - r["t1"] == 10 * 1_000_000


def test_retention_cohort_triangle(spark):
    """Users split across two cohorts; offsets count from each user's
    own first period."""
    week = 7 * 86_400
    ev = _ev(spark, [
        (1, "view", 0), (1, "view", week + 5), (1, "view", 3 * week),
        (2, "view", 10),
        (3, "view", week), (3, "view", 2 * week),
    ])
    got = {
        (r["cohort"], r["period_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    c0 = min(c for c, _ in got)  # absolute week index of 2024-01-01
    assert got[(c0, 0)] == 2           # users 1, 2
    assert got[(c0, 1)] == 1           # user 1 returns week 1
    assert got[(c0, 3)] == 1           # user 1 returns week 3
    assert got[(c0 + 1, 0)] == 1       # user 3's cohort
    assert got[(c0 + 1, 1)] == 1


def test_fuzzy_join_prefix_filter_complete_vs_exact(spark, sf_dir):
    """rel_fuzzy_match's oracle assumption AND the Ed-Join theorem on
    real keys: prefix-filtered blocking loses no pair within max_dist —
    pinned against the UNBLOCKED exact Levenshtein cross join on the
    gate's dirty-twin fixture."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import hash_bucket

    cust = load_table(spark, sf_dir, "customer")
    pos = (hash_bucket(F.col("c_name"), 9) + 10).cast("int")
    dirty = cust.select(
        F.concat(
            F.col("c_name").substr(F.lit(1), pos - 1),
            F.lit("x"),
            F.col("c_name").substr(pos + 1, F.length("c_name")),
        ).alias("k")
    )
    got = {
        (r["lk"], r["rk"], r["dist"])
        for r in fuzzy_join(dirty, cust, "k", "c_name", max_dist=2).collect()
    }
    exact = {
        (r["lk"], r["rk"], r["dist"])
        for r in dirty.select(F.col("k").alias("lk")).distinct()
        .crossJoin(cust.select(F.col("c_name").alias("rk")).distinct())
        .withColumn("dist", F.levenshtein("lk", "rk").cast("long"))
        .where(F.col("dist") <= 2)
        .collect()
    }
    assert got == exact and got
    # every dirty key recovers its original at distance exactly 1
    originals = {r["c_name"] for r in cust.select("c_name").collect()}
    dist1 = {(l, r) for l, r, d in got if d == 1}
    assert len({l for l, _ in dist1}) == len(
        {r["k"] for r in dirty.distinct().collect()}
    )
    assert all(r in originals for _, r in dist1)


def test_fuzzy_join_prefix_skips_ubiquitous_grams(spark):
    """A gram shared by EVERY key (the leading-zeros pathology) never
    enters any prefix, so candidates stay near-linear — yet results
    still equal the exact join."""
    left = spark.createDataFrame(
        [(f"0000000{i:03d}",) for i in range(200)], ["k"]
    )
    got = {
        (r["lk"], r["rk"], r["dist"])
        for r in fuzzy_join(left, left, "k", "k", max_dist=1, q=2).collect()
    }
    exact = {
        (r["lk"], r["rk"], r["dist"])
        for r in left.select(F.col("k").alias("lk"))
        .crossJoin(left.select(F.col("k").alias("rk")))
        .withColumn("dist", F.levenshtein("lk", "rk").cast("long"))
        .where(F.col("dist") <= 1)
        .collect()
    }
    assert got == exact
    assert ("0000000000", "0000000000", 0) in got
    assert ("0000000000", "0000000001", 1) in got


def test_fuzzy_join_complete_under_indels(spark, sf_dir):
    """The r5 positional-gram bug: an insertion/deletion shifts every
    later gram's position, so exact '<pos>:<gram>' blocking shared no
    token between a dist-1 indel pair and silently dropped it. The
    Ed-Join location condition (content match, |pos_l - pos_r| <= d)
    must keep every such pair — pinned against the unblocked exact
    cross join on insert-, delete-, AND substitute-corrupted keys."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import hash_bucket

    cust = load_table(spark, sf_dir, "customer").limit(400)
    pos = (hash_bucket(F.col("c_name"), 9) + 4).cast("int")
    mode = hash_bucket(F.col("c_name"), 3)  # 0=insert 1=delete 2=substitute
    head = F.col("c_name").substr(F.lit(1), pos - 1)
    tail_from = F.when(mode == 1, pos + 1).otherwise(pos)  # delete skips one
    tail = F.col("c_name").substr(tail_from, F.length("c_name"))
    ins = F.when(mode == 2, F.lit("x")).when(mode == 0, F.lit("zz")).otherwise(F.lit(""))
    sub_skip = F.col("c_name").substr(pos + 1, F.length("c_name"))
    dirty = cust.select(
        F.when(mode == 2, F.concat(head, F.lit("x"), sub_skip))
        .otherwise(F.concat(head, ins, tail))
        .alias("k")
    )
    got = {
        (r["lk"], r["rk"], r["dist"])
        for r in fuzzy_join(dirty, cust, "k", "c_name", max_dist=2).collect()
    }
    exact = {
        (r["lk"], r["rk"], r["dist"])
        for r in dirty.select(F.col("k").alias("lk")).distinct()
        .crossJoin(cust.select(F.col("c_name").alias("rk")).distinct())
        .withColumn("dist", F.levenshtein("lk", "rk").cast("long"))
        .where(F.col("dist") <= 2)
        .collect()
    }
    assert got == exact and got
    # the corruption modes actually exercised indels, not just subs:
    # insert mode adds 'zz' (dist 2), delete mode removes one char (dist 1)
    dists = {d for _, _, d in got}
    assert 1 in dists and 2 in dists


def test_fuzzy_join_max_gram_df_guard(spark):
    """max_gram_df is the in-plan quadratic guard: the dense-ID corpus
    (every prefix saturated with corpus-wide grams) fails loudly BEFORE
    pair emission; a generous cap and the default (None) still return
    the complete result."""
    import pytest

    left = spark.createDataFrame([(f"0000000{i:03d}",) for i in range(60)], ["k"])
    with pytest.raises(Exception, match="fuzzy-join gram"):
        fuzzy_join(left, left, "k", "k", max_dist=1, q=2, max_gram_df=10).collect()
    ok = fuzzy_join(left, left, "k", "k", max_dist=1, q=2, max_gram_df=10_000)
    default = fuzzy_join(left, left, "k", "k", max_dist=1, q=2)
    assert {tuple(r) for r in ok.collect()} == {tuple(r) for r in default.collect()}
