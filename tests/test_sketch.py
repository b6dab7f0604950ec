"""Count-min sketch: upper-bound guarantee, mergeability, and
build-path equivalence (occurrence stream vs pre-aggregated counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark.operators.sketch import countmin_estimate, countmin_table

DEPTH, WIDTH = 4, 8  # deliberately tiny so collisions occur


def _occurrences(spark):
    rows = (
        [("alpha",)] * 12
        + [("beta",)] * 7
        + [("gamma",)] * 5
        + [("delta",)] * 2
        + [(w,) for w in ("e1", "e2", "e3", "e4", "e5", "e6")]
    )
    return spark.createDataFrame(rows, "token string")


def test_estimate_is_upper_bound_on_truth(spark):
    occ = _occurrences(spark)
    truth = occ.groupBy("token").agg(F.count("*").alias("n"))
    cms = countmin_table(occ, depth=DEPTH, width=WIDTH)
    est = countmin_estimate(truth, cms, depth=DEPTH, width=WIDTH)
    rows = est.collect()
    assert len(rows) == 10
    assert all(r.est_n >= r.n for r in rows)
    # tiny width ⇒ at least one real collision, or the test is vacuous
    assert any(r.est_n > r.n for r in rows)


def test_table_is_sketch_sized(spark):
    cms = countmin_table(_occurrences(spark), depth=DEPTH, width=WIDTH)
    rows = cms.collect()
    assert len(rows) <= DEPTH * WIDTH
    assert {r.row for r in rows} <= set(range(DEPTH))
    assert all(0 <= r.bucket < WIDTH for r in rows)
    # total mass per hash row equals the stream length
    per_row = cms.groupBy("row").agg(F.sum("cnt").alias("m")).collect()
    assert all(r.m == 32 for r in per_row)


def test_merge_equals_single_build(spark):
    """Cell-wise addition of two partial sketches equals the sketch of
    the concatenated stream — the property that lets every partition/
    day/source sketch independently."""
    occ = _occurrences(spark)
    a = occ.limit(20)
    b = occ.exceptAll(a)
    sa = countmin_table(a, depth=DEPTH, width=WIDTH)
    sb = countmin_table(b, depth=DEPTH, width=WIDTH)
    merged = (
        sa.unionByName(sb)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = countmin_table(occ, depth=DEPTH, width=WIDTH)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_weighted_build_equals_occurrence_build(spark):
    occ = _occurrences(spark)
    counts = occ.groupBy("token").agg(F.count("*").alias("n"))
    from_occ = countmin_table(occ, depth=DEPTH, width=WIDTH)
    from_counts = countmin_table(
        counts, weight_col="n", depth=DEPTH, width=WIDTH
    )
    assert sorted(map(tuple, from_occ.collect())) == sorted(
        map(tuple, from_counts.collect())
    )


# --- HyperLogLog -----------------------------------------------------------


def test_hll_registers_are_duplicate_insensitive(spark):
    """Registers of a multiset equal registers of its distinct set —
    the property that makes the sketch a DISTINCT counter."""
    from token_etl_spark.operators.sketch import hll_registers

    multi = spark.createDataFrame(
        [(f"item{i % 40}",) for i in range(400)], ["x"]
    )
    uniq = multi.distinct()
    a = {(r["bucket"], r["m_j"]) for r in hll_registers(multi, "x").collect()}
    b = {(r["bucket"], r["m_j"]) for r in hll_registers(uniq, "x").collect()}
    assert a == b


def test_hll_merge_by_max_equals_single_build(spark):
    """max-merging two halves' registers == registers of the union —
    the union-ability that lets 100 TB shard per day/source."""
    from token_etl_spark.operators.sketch import hll_registers

    items = spark.createDataFrame([(f"k{i}",) for i in range(3000)], ["x"])
    left = items.where(F.length("x") % 2 == 0)
    right = items.where(F.length("x") % 2 == 1)
    merged = (
        hll_registers(left, "x")
        .unionByName(hll_registers(right, "x"))
        .groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    single = hll_registers(items, "x")
    assert {(r["bucket"], r["m_j"]) for r in merged.collect()} == {
        (r["bucket"], r["m_j"]) for r in single.collect()
    }


def test_hll_estimate_accuracy_in_range(spark):
    """Raw estimator within 4 standard errors (4 * 1.04/sqrt(256) = 26%)
    on a 10k-distinct set — loose enough to be deterministic-stable,
    tight enough to catch a broken rho or fold."""
    from token_etl_spark.operators.sketch import hll_estimate, hll_registers

    n = 10_000
    items = spark.createDataFrame([(f"key-{i}",) for i in range(n)], ["x"])
    est = hll_estimate(hll_registers(items, "x")).collect()[0]["hll_est"]
    assert abs(est - n) / n < 0.26, est


def test_hll_grouped_estimates_are_independent(spark):
    """Groups hash into disjoint register tables: a huge group must not
    perturb a small group's estimate."""
    from token_etl_spark.operators.sketch import hll_estimate, hll_registers

    rows = [("big", f"b{i}") for i in range(5000)] + [
        ("small", f"s{i}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["g", "x"])
    regs = hll_registers(df, "x", ("g",))
    by_g = {r["g"]: r["hll_est"] for r in hll_estimate(regs, ("g",)).collect()}
    solo = hll_estimate(
        hll_registers(df.where(F.col("g") == "small"), "x")
    ).collect()[0]["hll_est"]
    assert by_g["small"] == solo
    assert abs(by_g["big"] - 5000) / 5000 < 0.26


# --- histogram quantiles ---------------------------------------------------


def test_histogram_estimate_within_one_bin_of_exact(spark, sf_dir):
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.sketch import (
        histogram_counts,
        histogram_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    lo, hi, bins = 900.0, 105000.0, 128
    width = (hi - lo) / bins
    hist = histogram_counts(li, "l_extendedprice", lo, hi, bins, ("l_returnflag",))
    est = {
        (r["l_returnflag"], r["q"]): r["est"]
        for r in histogram_quantiles(
            hist, (0.5, 0.9), lo, hi, bins, ("l_returnflag",)
        ).collect()
    }
    exact = {
        (r["l_returnflag"], q): r[f"p{int(q*100)}"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5D)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9D)").alias("p90"),
        )
        .collect()
        for q in (0.5, 0.9)
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) <= width, (k, e, exact[k])


def test_histogram_shards_merge_by_addition(spark, sf_dir):
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.sketch import histogram_counts

    li = load_table(spark, sf_dir, "lineitem")
    lo, hi, bins = 900.0, 105000.0, 64
    whole = histogram_counts(li, "l_extendedprice", lo, hi, bins)
    parts = (
        histogram_counts(
            li.where(F.col("l_orderkey") % 2 == 0), "l_extendedprice", lo, hi, bins
        )
        .unionByName(
            histogram_counts(
                li.where(F.col("l_orderkey") % 2 == 1),
                "l_extendedprice",
                lo,
                hi,
                bins,
            )
        )
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert {(r["bin"], r["cnt"]) for r in whole.collect()} == {
        (r["bin"], r["cnt"]) for r in parts.collect()
    }


# --- KMV bottom-k ----------------------------------------------------------


def test_kmv_small_set_is_exact(spark):
    """Under k distinct items, the sketch IS the set: union_est,
    jaccard_est, and inter_est are all exact — the merged bottom-k holds
    the complete union (80 hashes), so the /min(n_x, k) denominator
    returns the true jaccard, not an n_x/k underestimate."""
    from token_etl_spark.operators.sketch import kmv_pairwise, kmv_sketch

    rows = [("a", f"x{i}") for i in range(50)] + [
        ("b", f"x{i}") for i in range(30, 80)
    ]
    df = spark.createDataFrame(rows, ["g", "item"])
    ks = kmv_sketch(df, "item", ("g",), k=128)
    out = kmv_pairwise(ks, "g", k=128).collect()[0]
    assert out["n_both"] == 20           # x30..x49
    assert out["union_est"] == 80.0      # exact: fewer than k distinct
    assert out["jaccard_est"] == 20 / 80.0
    assert out["inter_est"] == 20.0      # exact intersection


def test_kmv_estimates_track_truth(spark):
    """5k/5k sets with 2k true overlap: union and intersection estimates
    within 4/sqrt(k) relative error (k=128 -> 35%), jaccard likewise."""
    from token_etl_spark.operators.sketch import kmv_pairwise, kmv_sketch

    rows = [("a", f"v{i}") for i in range(5000)] + [
        ("b", f"v{i}") for i in range(3000, 8000)
    ]
    df = spark.createDataFrame(rows, ["g", "item"])
    out = kmv_pairwise(kmv_sketch(df, "item", ("g",)), "g").collect()[0]
    true_union, true_inter = 8000, 2000
    assert abs(out["union_est"] - true_union) / true_union < 0.35
    assert abs(out["inter_est"] - true_inter) / true_inter < 0.35
    assert abs(out["jaccard_est"] - 0.25) < 0.12


def test_kmv_sketch_is_bottom_k_of_distinct(spark):
    """Sketch rows are exactly the k smallest distinct hashes —
    duplicates never inflate, ranks are dense from 1."""
    from token_etl_spark.operators.sketch import kmv_sketch

    df = spark.createDataFrame(
        [("g", f"i{i % 200}") for i in range(2000)], ["g", "item"]
    )
    ks = kmv_sketch(df, "item", ("g",), k=64).collect()
    assert len(ks) == 64
    hs = sorted(r["h"] for r in ks)
    assert [r["rank"] for r in sorted(ks, key=lambda r: r["h"])] == list(
        range(1, 65)
    )
    assert len(set(hs)) == 64


def test_kmv_estimate_expr_exact_below_k_and_ratio_above(spark):
    """Fewer than k hashes: the sketch is the distinct set, so the count
    is returned as is. A full sketch estimates (k-1) * 2^48 / h_k."""
    from token_etl_spark.operators.sketch import kmv_estimate_expr

    k = 64
    df = spark.createDataFrame(
        [(5, 123), (63, 2**40), (64, 2**42), (64, 2**47)], "cnt long, max_h long"
    )
    got = [
        r["e"]
        for r in df.select(kmv_estimate_expr(F.col("cnt"), F.col("max_h"), k).alias("e")).collect()
    ]
    assert got == [5.0, 63.0, 63.0 * 2**6, 63.0 * 2]
