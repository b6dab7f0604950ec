from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark.operators.graph import connected_components, dedup_keep_list


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, singleton edges absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    n = 20  # diameter 20 chain → needs multiple propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(pairs, max_iterations=25).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_connected_components_probe_cadence_invariant(spark):
    """Result must not depend on how often convergence is probed —
    including probe_every=0 (pure fixed-iteration, zero probe jobs) and
    cadences that don't divide the convergence round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102)],
        "id_a long, id_b long",
    )
    expected = None
    for k in (0, 1, 2, 3, 5):
        got = {
            r["id"]: r["component"]
            for r in connected_components(pairs, max_iterations=15, probe_every=k).collect()
        }
        if expected is None:
            expected = got
        assert got == expected, f"probe_every={k}"
    assert set(expected.values()) == {0, 100}


def test_connected_components_cap_hit_raises(spark):
    """Hitting the iteration cap with labels still changing must RAISE
    (probe mode): every keep-list rule assumes component == cluster-min,
    which only holds at the fixpoint. A diameter-6 chain cannot converge
    in one round (round 1 is hop-only), so max_iterations=1 caps out."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with pytest.raises(Exception, match="max_iterations"):
        connected_components(pairs, max_iterations=1).collect()
    # probe_every=0 keeps the documented fixed-iteration mode: no guard
    out = connected_components(pairs, max_iterations=1, probe_every=0).collect()
    assert len(out) == 7


def test_connected_components_ordered_distinct_equivalence(spark):
    """pairs_ordered_distinct=True (skip the edge-dedup shuffle — the
    r15 LSH star-edge contract) must produce exactly the default's
    components on an input that honors the contract (distinct rows,
    id_a < id_b), including cross-bucket chains that need propagation
    rounds; and dedup_keep_list must agree under both settings."""
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (4, 20)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    base = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    fast = {
        r["id"]: r["component"]
        for r in connected_components(pairs, pairs_ordered_distinct=True).collect()
    }
    assert fast == base
    all_ids = spark.createDataFrame([(i,) for i in range(25)], ["doc_id"])
    keep_base = {
        r["doc_id"]: r["keep"] for r in dedup_keep_list(pairs, all_ids).collect()
    }
    keep_fast = {
        r["doc_id"]: r["keep"]
        for r in dedup_keep_list(
            pairs, all_ids, pairs_ordered_distinct=True
        ).collect()
    }
    assert keep_fast == keep_base


def test_dedup_keep_list(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    all_ids = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    got = {r["doc_id"]: r["keep"] for r in dedup_keep_list(pairs, all_ids).collect()}
    assert len(got) == 10
    assert got[1] and not got[2] and not got[3]   # cluster {1,2,3} keeps 1
    assert got[7] and not got[9]                  # cluster {7,9} keeps 7
    assert all(got[i] for i in (0, 4, 5, 6, 8))   # singletons kept


def test_keep_list_from_components_matches_pair_form(spark):
    from pyspark.sql import functions as F

    from token_etl_spark.operators.graph import (
        connected_components,
        dedup_keep_list,
        keep_list_from_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
    via_pairs = {
        (r.doc_id, r.keep) for r in dedup_keep_list(pairs, all_ids).collect()
    }
    comps = connected_components(pairs)
    via_comps = {
        (r.doc_id, r.keep)
        for r in keep_list_from_components(comps, all_ids).collect()
    }
    assert via_pairs == via_comps
    assert (99, True) in via_comps  # singleton kept


def _py_pagerank(edges, damping=0.85, iters=50):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    rank = {n: 1.0 for n in nodes}
    N = len(nodes)
    for _ in range(iters):
        dangling = sum(rank[n] for n in nodes if n not in out)
        new = {}
        for n in nodes:
            new[n] = (1 - damping) + damping * dangling / N
        for u, vs in out.items():
            share = rank[u] / len(vs)
            for v in vs:
                new[v] += damping * share
        rank = new
    return rank


def test_pagerank_matches_python_reference(spark):
    from token_etl_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 4 is source-only; no dangling? 2->3,3->1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, max_iterations=60, tol=1e-12).collect()}
    exp = _py_pagerank(edges)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6, (k, got[k], exp[k])


def test_fixpoint_probe_cadence(spark):
    """probe_every=k must run the convergence probe only every k-th
    round — the probe is the one serial driver job per round, so cadence
    is the scale knob."""
    from token_etl_spark.operators.graph import iterate_to_fixpoint

    state = spark.createDataFrame([(1, 0)], "id long, v long")
    calls = []

    def step(s):
        return s.select("id", (F.col("v") + 1).alias("v"))

    def converged(old, new):
        calls.append(1)
        return False  # never converge: run all rounds

    out = iterate_to_fixpoint(state, step, converged, max_iterations=9, probe_every=3)
    assert len(calls) == 3  # probes at rounds 3, 6, 9 only
    assert out.collect()[0]["v"] == 9  # all rounds still executed


def test_pagerank_probe_interval_still_converges(spark):
    from token_etl_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.rank
        for r in pagerank(df, max_iterations=60, tol=1e-12, probe_every=5).collect()
    }
    exp = _py_pagerank(edges)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6


def test_pagerank_handles_dangling_nodes(spark):
    from token_etl_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3)]  # 3 is dangling (no out-edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, max_iterations=60, tol=1e-12).collect()}
    exp = _py_pagerank(edges)
    total = sum(got.values())
    assert abs(total - 3.0) < 1e-6  # rank mass conserved (sums to N)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6


def test_keep_best_in_cluster(spark):
    from token_etl_spark.operators.graph import connected_components, keep_best_in_cluster

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    comps = connected_components(pairs)
    # scores: cluster {1,2,3} → 2 is best; cluster {7,9} → tie broken to 7
    scored = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 20), (7, 5), (9, 5), (0, 1), (4, 1)],
        "doc_id long, score long",
    )
    got = {r["doc_id"]: r["keep"] for r in keep_best_in_cluster(comps, scored).collect()}
    assert len(got) == 7
    assert got[2] and not got[1] and not got[3]   # highest score wins
    assert got[7] and not got[9]                  # tie → min id
    assert got[0] and got[4]                      # singletons kept


def test_keep_best_equals_keep_list_under_id_score(spark):
    """With score = -id (so the min id IS the best score) keep-best must
    reproduce dedup_keep_list's min-id decisions exactly."""
    from token_etl_spark.operators.graph import (
        connected_components,
        dedup_keep_list,
        keep_best_in_cluster,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 22), (22, 24)], "id_a long, id_b long"
    )
    all_ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 22, 24, 99]], "doc_id long"
    )
    scored = all_ids.withColumn("score", -F.col("doc_id"))
    comps = connected_components(pairs)
    a = {(r.doc_id, r.keep) for r in dedup_keep_list(pairs, all_ids).collect()}
    b = {(r.doc_id, r.keep) for r in keep_best_in_cluster(comps, scored).collect()}
    assert a == b


def test_connected_components_cap_guard_reuses_last_probe(spark):
    """The convergence probe rides on each round's checkpoint job as an
    observed metric: probing adds no Spark job over the probe-free run,
    both on a cadence that lands on the final round and on one that
    misses it, and on the cap-hit path the guard reuses the final
    round's observed count, so both still raise. A 64-node chain cannot
    converge in 3 rounds."""
    import pytest

    sc = spark.sparkContext
    pairs = spark.createDataFrame([(i, i + 1) for i in range(63)], "id_a long, id_b long")

    def jobs(max_iterations: int, probe_every: int) -> int:
        group = f"cc-cap-{max_iterations}-{probe_every}"
        sc.setJobGroup(group, group)
        try:
            if probe_every:
                with pytest.raises(RuntimeError, match="max_iterations"):
                    connected_components(pairs, max_iterations=max_iterations, probe_every=probe_every)
            else:
                connected_components(pairs, max_iterations=max_iterations, probe_every=0)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(1, 1) == jobs(1, 0)  # final round on the cadence
    assert jobs(3, 2) == jobs(3, 0)  # final round off the cadence
