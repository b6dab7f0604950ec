from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from token_etl_spark.operators.similarity import brute_force_topk, ivf_assign, ivf_topk


def _corpus(spark, n=200, dim=8, seed=11):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype(float)
    return spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    )


def test_ivf_assign_partitions_whole_corpus(spark):
    df = _corpus(spark)
    assigned, cents = ivf_assign(df, n_centroids=8)
    assert assigned.count() == 200              # every vector assigned
    assert assigned.select("corpus_id").distinct().count() == 200  # exactly once
    n_cells = assigned.select("centroid_id").distinct().count()
    assert 1 < n_cells <= 8


def test_lloyd_refine_reduces_distortion(spark):
    import numpy as np

    from token_etl_spark.operators.similarity import cosine, lloyd_refine

    df = _corpus(spark, n=150)
    assigned, cents0 = ivf_assign(df, n_centroids=6)
    assigned.persist()

    def distortion(cents):
        joined = assigned.drop("centroid_id").crossJoin(cents.hint("broadcast"))
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        w = W.partitionBy("corpus_id").orderBy(F.col("sim").desc())
        best = (
            joined.withColumn("sim", F.expr(cosine("cv", "centroid_vec")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        return best.agg(F.avg(1 - F.col("sim"))).collect()[0][0]

    d0 = distortion(cents0)
    cents1 = lloyd_refine(assigned)
    d1 = distortion(cents1)
    assert d1 <= d0 + 1e-9  # one Lloyd step never increases distortion


def test_ivf_topk_recall_improves_with_probes(spark):
    df = _corpus(spark)
    queries = df.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=10).collect()
    }

    def recall(n_probe):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(df, queries, k=10, n_centroids=8, n_probe=n_probe).collect()
        }
        return len(approx & exact) / len(exact)

    r1, r8 = recall(1), recall(8)
    assert r8 >= r1            # more probes → no worse recall
    assert r8 > 0.99           # probing every cell == exhaustive search


def _topk_sets(df):
    out = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_spherical_kmeans_centroids_unit_norm_and_cover(spark):
    import math

    from token_etl_spark.operators.similarity import spherical_kmeans

    corpus = _corpus(spark, n=120)
    cents = spherical_kmeans(corpus, n_centroids=4, n_iters=2).collect()
    assert len(cents) == 4
    for r in cents:
        n = math.sqrt(sum(x * x for x in r.centroid_vec))
        assert abs(n - 1.0) < 1e-9


def test_ivf_refined_recall_comparable_to_raw(spark):
    """Refined (spherical k-means) IVF is a valid quantizer: complete,
    deterministic results whose mean recall across probe widths stays within
    tolerance of the raw-sample quantizer on a tiny random corpus. The
    actual recall *improvement* claim is measured on the real embeddings
    table (scripts/measure_recall.py → PERF.md) where cluster structure
    exists; 8 random queries over gaussian noise are too few to rank the
    two quantizers per-probe."""
    corpus = _corpus(spark, n=120)
    queries = corpus.limit(8)
    truth = _topk_sets(brute_force_topk(corpus, queries, k=5))

    def rec(approx):
        return sum(
            len(truth[q] & approx.get(q, set())) / len(truth[q]) for q in truth
        ) / len(truth)

    raw_mean = 0.0
    refined_mean = 0.0
    for n_probe in (1, 2, 4):
        raw_mean += rec(
            _topk_sets(ivf_topk(corpus, queries, k=5, n_centroids=4, n_probe=n_probe))
        )
        refined = _topk_sets(
            ivf_topk(
                corpus, queries, k=5, n_centroids=4, n_probe=n_probe, refine_iters=2
            )
        )
        assert set(refined) == set(truth)  # every query answered
        refined_mean += rec(refined)
    assert refined_mean / 3 >= raw_mean / 3 - 0.05


def test_persisted_ivf_index_matches_inline_search(spark, tmp_path):
    from token_etl_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_topk,
    )

    corpus = _corpus(spark, n=150)
    # FRESH query ids: ivf_search serves an external id namespace
    # (exclude_self=False), so corpus-identical ids would self-match
    # there but not in the inline ivf_topk — shift them out of range
    queries = corpus.limit(6).withColumn("vec_id", F.col("vec_id") + 10_000)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(corpus, path, n_centroids=4, refine_iters=2)

    via_index = _topk_sets(ivf_search(spark, path, queries, k=5, n_probe=2))
    inline = _topk_sets(
        ivf_topk(corpus, queries, k=5, n_centroids=4, n_probe=2, refine_iters=2)
    )
    assert via_index == inline

    # partition-pruned layout: one directory per centroid cell
    import os

    cells = [d for d in os.listdir(path + "/assignments") if d.startswith("centroid_id=")]
    assert 1 < len(cells) <= 4


def test_ivf_search_keeps_neighbor_on_external_id_collision(spark, tmp_path):
    """A query whose id collides with a DISTINCT corpus row's id is an
    external-namespace coincidence, not a self-match: ivf_search
    (exclude_self=False) must keep that corpus row as a neighbor.
    The inline self-join form (ivf_topk, exclude_self=True) is the
    opposite contract and must still drop exact self-pairs."""
    from token_etl_spark.operators.similarity import build_ivf_index, ivf_search

    corpus = _corpus(spark, n=80)
    path = str(tmp_path / "ivf_collide")
    build_ivf_index(corpus, path, n_centroids=4, refine_iters=1)

    # external query: id 3 (collides with corpus row 3) but carrying
    # corpus row 7's vector — its true nearest neighbor is corpus id 7
    v7 = corpus.where("vec_id = 7").collect()[0]["embedding"]
    q = spark.createDataFrame([(3, v7)], "vec_id long, embedding array<double>")
    res = ivf_search(spark, path, q, k=5, n_probe=4).collect()
    by_rank = {r["rank"]: r for r in res}
    assert by_rank[1]["neighbor_id"] == 7
    assert abs(by_rank[1]["cosine_sim"] - 1.0) < 1e-12
    # the id-colliding corpus row 3 is NOT filtered out of the candidate
    # set: with n_probe=4 every cell is probed, so row 3 competes and
    # appears whenever its similarity ranks top-5 — assert it was at
    # least scored by re-running with k=corpus size
    all_ranked = ivf_search(spark, path, q, k=80, n_probe=4).collect()
    assert any(r["neighbor_id"] == 3 for r in all_ranked)

    # the self-join form still excludes the trivial self-pair
    inline = ivf_topk(corpus, corpus.where("vec_id = 3"), k=79, n_centroids=4, n_probe=4)
    assert all(r["neighbor_id"] != 3 for r in inline.collect())


def test_ivf_search_dynamic_partition_pruning_survives_salt(spark, tmp_path):
    """The persisted-index probe must stay a PARTITION-PRUNED read:
    dynamic partition pruning on centroid_id has to fire through the
    salted cell join (r8) — without it every search scans all cells."""
    import contextlib
    import io

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.similarity import build_ivf_index, ivf_search

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_dpp")
    build_ivf_index(emb, path, n_centroids=8, refine_iters=1)
    res = ivf_search(spark, path, emb.where("vec_id < 2"), k=5, n_probe=2)
    res.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression(centroid_id" in plan


def test_ivf_search_frames_matches_persisted_path(spark, tmp_path):
    """ext_ann_ivf_search's in-plan composition (build_ivf_index_frames
    → ivf_search_frames) is the IDENTICAL logic the persisted path runs
    (build_ivf_index writes exactly those frames; ivf_search delegates
    to ivf_search_frames after its parquet reads) — pinned end to end:
    same (query, neighbor, rank) sets for the same corpus and external
    queries, including an id-colliding one."""
    from token_etl_spark.operators.similarity import (
        build_ivf_index,
        build_ivf_index_frames,
        ivf_search,
        ivf_search_frames,
    )

    corpus = _corpus(spark, n=120)
    # external namespace: ids collide with corpus 0..3 but vectors are reversed
    queries = corpus.filter(F.col("vec_id") < 4).select(
        "vec_id", F.reverse(F.col("embedding")).alias("embedding")
    )
    path = str(tmp_path / "ivf_frames_eq")
    build_ivf_index(corpus, path, n_centroids=4, refine_iters=2)
    persisted = _topk_sets(ivf_search(spark, path, queries, k=5, n_probe=2))

    cents, assigned = build_ivf_index_frames(corpus, n_centroids=4, refine_iters=2)
    inplan = _topk_sets(ivf_search_frames(cents, assigned, queries, k=5, n_probe=2))
    assert inplan == persisted


def test_ivf_cell_stats_report(spark):
    """Per-cell occupancy: one row per TRAINED centroid (empty cells at
    0), shares sum to 1, imbalance divisor is the trained centroid
    count — a fully drifted corpus must read imbalance n_centroids on
    its hot cell, not 1.0 (the blind spot of normalizing by nonempty
    cells; r10 review)."""
    from token_etl_spark.operators.similarity import ivf_assign, ivf_cell_stats

    df = _corpus(spark, n=200)
    assigned, cents = ivf_assign(df, n_centroids=8)
    n_centroids = cents.count()
    rows = ivf_cell_stats(assigned, cents).collect()
    assert len(rows) == n_centroids  # every trained cell reported
    assert sum(r["n_vectors"] for r in rows) == 200
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert abs(r["imbalance"] - r["n_vectors"] * n_centroids / 200) < 1e-12

    # extreme drift: every vector in ONE of the 8 cells → that cell's
    # imbalance is 8.0 and the 7 empty cells are reported at 0
    hot = rows[0]["centroid_id"]
    drifted = assigned.withColumn("centroid_id", F.lit(hot))
    drows = {r["centroid_id"]: r for r in ivf_cell_stats(drifted, cents).collect()}
    assert len(drows) == n_centroids
    assert abs(drows[hot]["imbalance"] - float(n_centroids)) < 1e-12
    assert all(
        drows[c]["n_vectors"] == 0 and drows[c]["imbalance"] == 0.0
        for c in drows
        if c != hot
    )


def test_ivf_search_warm_rebuild_compiles_nothing(spark, sf_dir):
    """The centroid sample is a ``row_number() <= n`` filter, not a plain
    ``orderBy().limit(n)``: on the probe side the limit planned as a
    codegen'd GlobalLimit/LocalLimit pair, whose counter is named from a
    JVM-global id, so every run of the same search compiled fresh
    classes. The filter plans as a per-partition top-n
    (``TakeOrderedAndProject``) under the window, and a rebuilt search
    compiles nothing once warm, whatever order AQE finishes its stages
    in (the session keeps stage ids out of generated class names)."""
    from token_etl_spark.io.sources import load_table

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    emb = load_table(spark, sf_dir, "embeddings").repartition(4)

    def run() -> tuple[int, list, str]:
        before = int(metrics.METRIC_COMPILATION_TIME().getCount())
        nb = ivf_topk(emb, emb, k=10, n_centroids=16, n_probe=4)
        rows = sorted(nb.collect())
        after = int(metrics.METRIC_COMPILATION_TIME().getCount())
        return after - before, rows, nb._jdf.queryExecution().executedPlan().toString()

    _, first, _ = run()
    run()  # AQE settles its last stage shapes on the second run
    compiled, rows, plan = run()
    assert rows == first
    assert "TakeOrderedAndProject(limit=16" in plan and "GlobalLimit" not in plan
    assert compiled == 0
