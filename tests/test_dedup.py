from __future__ import annotations

import math

from pyspark.sql import functions as F

from token_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
    (2, "completely different content about spark query engines and shuffles"),
    (3, "THE  quick   brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0 after normalize
    (4, "another unrelated document mentioning parquet files and columnar storage"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_groups_normalized_copies(spark):
    out = exact_dedup(_docs(spark))
    groups = {r["keep_id"]: r["n_copies"] for r in out.collect()}
    assert groups[0] == 2  # docs 0 and 3 collapse
    assert out.count() == 4


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(0, "a b"), (1, "")], ["doc_id", "text"])
    out = shingles(df, k=3).collect()
    got = {(r["id"], r["shingle"]) for r in out}
    assert (0, "a b") in got  # shorter than k → single truncated shingle
    # empty text yields one empty-ish shingle row; must not crash
    assert all(r["id"] in (0, 1) for r in out)


def test_minhash_finds_planted_near_dup(spark):
    pairs = minhash_dedup(_docs(spark), num_hashes=32, bands=16, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert (0, 3) in got  # exact dup also caught
    assert not any({a, b} == {0, 2} for a, b in got)


def test_minhash_agrees_with_exact_jaccard_on_candidates(spark):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup(_docs(spark), num_hashes=32, bands=16, threshold=0.5).collect()
    }
    # LSH-verified pairs report the same exact jaccard value
    for pair, j in lsh.items():
        assert abs(exact[pair] - j) < 1e-12


def test_simhash_near_dups_have_close_hashes(spark):
    out = {r["id"]: r["simhash"] for r in simhash(_docs(spark), bits=32).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(out[0], out[3]) == 0  # identical token multiset
    assert hamming(out[0], out[1]) < hamming(out[0], out[2])


def test_star_edges_linear_and_same_components(spark):
    """A bucket with k members emits k-1 star edges (vs k(k-1)/2 pairs),
    and the resulting connected components match the pair-form clusters
    for exact-copy groups."""
    from token_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_dedup,
        minhash_dedup_clusters,
    )
    from token_etl_spark.operators.graph import connected_components
    from token_etl_spark.operators.dedup import minhash_signatures, shingle_arrays
    from pyspark.sql import functions as F

    texts = []
    for c in range(3):  # 3 clusters of 6 exact copies each
        for i in range(6):
            texts.append((c * 10 + i, f"unique cluster {c} body text repeated words here okay"))
    for i in range(50, 60):  # singletons
        texts.append((i, f"totally different document number {i} with its own words {i}"))
    df = spark.createDataFrame(texts, "doc_id long, text string")

    arrays = shingle_arrays(df)
    sigs = minhash_signatures(arrays.select("id", F.explode("sh").alias("shingle")))
    n_pairs = lsh_candidate_pairs(sigs).count()
    star = lsh_star_edges(sigs)
    n_star = star.count()
    assert n_star < n_pairs  # 3×5=15 star edges vs 3×15=45 pairs
    # exactly k-1 edges per exact-copy cluster (spurious band collisions
    # involving singletons may add a few more; verification drops those)
    in_cluster = star.filter((F.col("id_a") < 50) & (F.col("id_b") < 50)).count()
    assert in_cluster == 15

    pair_cc = connected_components(minhash_dedup(df).select("id_a", "id_b"))
    star_cc = minhash_dedup_clusters(df)
    as_map = lambda cc: {r.id: r.component for r in cc.collect()}
    assert as_map(pair_cc) == as_map(star_cc)


def test_minhash_pair_form_bucket_cap(spark):
    """The quadratic pair form must fail EXPLICITLY — not OOM — on a
    giant duplicate cluster (r3 verdict: measured OOM at 500-copy
    clusters at scale). A 500-copy cluster puts 500 members into the
    same (band, bucket) for every band; with max_bucket below that the
    plan raises the documented error at execution time, and the linear
    star form handles the identical input fine."""
    import pytest

    from token_etl_spark.operators import dedup as D

    rows = [(i, "the very same duplicated body of text for every copy") for i in range(500)]
    rows += [(1000 + i, f"distinct filler document {i} about topic {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    with pytest.raises(Exception, match="max_bucket"):
        D.minhash_dedup(df, max_bucket=100).count()

    # the production path for this shape: linear star edges, same input
    cc = D.minhash_dedup_clusters(df)
    comp = {r.id: r.component for r in cc.collect()}
    assert all(comp[i] == 0 for i in range(500))

    # unguarded form still available explicitly
    n = D.minhash_dedup(df, max_bucket=None).count()
    assert n == 500 * 499 / 2


def test_simhash_neardup_equals_allpairs_hamming(spark):
    """Perfect-recall property: with max_hamming < bands, pigeonhole
    guarantees two fingerprints within the hamming budget agree exactly
    on at least one band — so the banded pipeline must return EXACTLY
    the all-pairs hamming filter, not an approximation."""
    from token_etl_spark.operators import dedup as D

    rows = [(i, f"unique document number {i} about subject {i % 7} with words") for i in range(40)]
    rows += [(100 + i, "shared boilerplate template text repeated many times " + ("extra" if i % 2 else "")) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_neardup(df, max_hamming=3, bands=4).collect()
    }

    fps = D.simhash(df)
    a = fps.select(F.col("id").alias("id_a"), F.col("simhash").alias("fp_a"))
    b = fps.select(F.col("id").alias("id_b"), F.col("simhash").alias("fp_b"))
    allpairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .collect()
    }
    assert banded == allpairs
    # the exact-copy cluster must be found: 3 even-index copies pairwise
    even = {100, 102, 104}
    assert {(x, y) for (x, y, h) in banded if x in even and y in even and h == 0} == {
        (100, 102), (100, 104), (102, 104)
    }


def test_duplicated_spans_exact_values(spark):
    """Hand-computed ExactSubstr stats on a 3-doc corpus with k=4:
    docs 10 and 11 share an 8-token prefix (5 duplicated windows whose
    interval union covers tokens 1..8), doc 12 shares nothing."""
    from token_etl_spark.operators.dedup import duplicated_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (10, shared + " india juliet kilo"),
        (11, shared + " lima mike november"),
        (12, "oscar papa quebec romeo sierra tango uniform victor whiskey"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in duplicated_spans(df, k=4).collect()}
    for i in (10, 11):
        r = out[i]
        assert r.n_tokens == 11 and r.n_windows == 8
        # windows starting at 1..5 are shared; union covers tokens 1..8
        assert r.n_dup_windows == 5
        assert r.dup_tokens == 8
        assert abs(r.dup_fraction - 8 / 11) < 1e-6
    r = out[12]
    assert (r.n_dup_windows, r.dup_tokens, r.dup_fraction) == (0, 0, 0.0)


def test_duplicated_spans_internal_repeat_and_short_doc(spark):
    """A repeat INSIDE one document counts (ExactSubstr semantics), and
    docs shorter than k report zero windows without erroring."""
    from token_etl_spark.operators.dedup import duplicated_spans

    rows = [
        # 'a b c' appears at positions 1 and 4: two occurrences of the
        # k=3 window, both duplicated; union covers tokens 1..6 fully
        (1, "a b c a b c"),
        (2, "x y"),  # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in duplicated_spans(df, k=3).collect()}
    r = out[1]
    assert r.n_windows == 4
    assert r.n_dup_windows == 2  # positions 1 and 4 ('a b c' twice)
    assert r.dup_tokens == 6
    assert r.dup_fraction == 1.0
    r = out[2]
    assert (r.n_tokens, r.n_windows, r.n_dup_windows, r.dup_tokens) == (2, 0, 0, 0)


def test_duplicated_spans_overlap_union_not_double_counted(spark):
    """Three copies of one doc: every window duplicated, covered tokens
    = n_tokens exactly (the lag-window union must not double count
    overlapping windows)."""
    from token_etl_spark.operators.dedup import duplicated_spans

    text = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(i, text) for i in range(3)], "doc_id long, text string"
    )
    for r in duplicated_spans(df, k=4).collect():
        assert r.n_dup_windows == r.n_windows == 7
        assert r.dup_tokens == r.n_tokens == 10
        assert r.dup_fraction == 1.0


def test_dedup_spans_rewrite_keeps_first_occurrence(spark):
    """Corpus-first occurrence survives; later duplicated spans are cut."""
    from token_etl_spark.operators.dedup import dedup_spans_rewrite

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (10, shared + " india juliet kilo"),
        (11, shared + " lima mike november"),
        (12, "oscar papa quebec romeo sierra tango uniform victor whiskey"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dedup_spans_rewrite(df, k=4).collect()}
    # first doc (lowest id) keeps everything
    assert out[10].n_removed == 0 and out[10].cleaned == rows[0][1]
    # second doc loses the 8-token shared prefix, keeps its unique tail
    assert out[11].n_removed == 8 and out[11].cleaned == "lima mike november"
    assert out[12].n_removed == 0 and out[12].cleaned == rows[2][1]


def test_dedup_spans_rewrite_internal_repeat_and_identical_docs(spark):
    from token_etl_spark.operators.dedup import dedup_spans_rewrite

    rows = [
        (1, "a b c a b c"),  # second 'a b c' run removed
        (2, "x y z w x y z w"),  # doc-internal repeat: tokens 5..8 cut
        (3, "p q r s t u v w"),
        (4, "p q r s t u v w"),  # exact copy of 3: fully removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dedup_spans_rewrite(df, k=3).collect()}
    assert out[1].cleaned == "a b c" and out[1].n_removed == 3
    assert out[2].cleaned == "x y z w" and out[2].n_removed == 4
    assert out[3].n_removed == 0 and out[3].cleaned == rows[2][1]
    assert out[4].n_removed == 8 and out[4].cleaned == ""


def test_containment_catches_what_jaccard_misses(spark):
    """A short document quoted inside a long one: containment ~1 but
    jaccard << any MinHash threshold — containment_pairs flags it,
    minhash_dedup (jaccard 0.5) provably cannot."""
    from token_etl_spark.operators.dedup import containment_pairs, minhash_dedup

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"longword{i} unique{i} filler{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " " + filler.replace("i", "j")),
        (3, "completely unrelated text about spark catalyst optimizer internals"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["id_a"], r["id_b"]): r for r in containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["containment"] == 1.0          # every shingle of 1 is in 2
    assert r["n_common"] == r["n_a"] < r["n_b"]
    assert all(k == (1, 2) for k in got)    # doc 3 matches nothing

    # jaccard of the same pair is tiny -> the minhash path at 0.5 is silent
    mh = minhash_dedup(df, threshold=0.5).collect()
    assert not any({p["id_a"], p["id_b"]} == {1, 2} for p in mh)


def test_containment_rare_shingle_blocking(spark):
    """Pairs sharing ONLY shingles above the df cap are never
    candidates: 30 docs all share one boilerplate sentence (df=30 > cap)
    and nothing else -> zero pairs; dropping the cap finds them all."""
    from token_etl_spark.operators.dedup import containment_pairs

    boiler = "all rights reserved terms of service apply here"
    rows = [(i, f"{boiler}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert containment_pairs(df, max_df=20, threshold=0.5).count() == 0
    assert containment_pairs(df, max_df=30, threshold=0.5).count() == 30 * 29 / 2


def test_minhash_index_roundtrip_and_append(spark, tmp_path):
    """The persisted index matches incremental results across an append:
    match against (ref1 + ref2 appended) == match against a fresh index
    of ref1 ∪ ref2; the bucket cap trips on a boilerplate bucket."""
    import pytest

    from token_etl_spark.operators.dedup import (
        minhash_index_frame,
        minhash_match_index,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    ref1 = mk([(i, f"reference document number {i} about unique topic {i} stuff") for i in range(10)])
    ref2 = mk([(100 + i, f"second wave reference {i} on fresh subject {i} words") for i in range(10)])
    new = mk(
        [(1000, "reference document number 3 about unique topic 3 stuff"),
         (1001, "second wave reference 7 on fresh subject 7 words"),
         (1002, "entirely novel content matching nothing in any index at all")]
    )
    path = str(tmp_path / "mh_index")
    minhash_index_frame(ref1).write.parquet(path)
    minhash_index_frame(ref2).write.mode("append").parquet(path)
    via_append = {
        (r.id_new, r.id_ref)
        for r in minhash_match_index(new, spark.read.parquet(path), threshold=0.8).collect()
    }
    fresh = {
        (r.id_new, r.id_ref)
        for r in minhash_match_index(
            new, minhash_index_frame(ref1.unionByName(ref2)), threshold=0.8
        ).collect()
    }
    assert via_append == fresh == {(1000, 3), (1001, 107)}

    # combined-population cap: 60 identical ref docs + 1 identical new doc
    boiler = mk([(i, "the same boilerplate text everywhere always") for i in range(60)])
    one = mk([(999, "the same boilerplate text everywhere always")])
    with pytest.raises(Exception, match="max_bucket"):
        minhash_match_index(
            one, minhash_index_frame(boiler), threshold=0.5, max_bucket=50
        ).count()


def test_weighted_minhash_reduces_to_unweighted_on_distinct_grams(spark):
    """When every gram appears once per doc (all tf = 1), the weighted
    pair set and scores must equal the unweighted minhash_dedup's —
    the integer expansion is the identity at weight 1."""
    from token_etl_spark.operators.dedup import minhash_dedup, weighted_minhash_dedup

    # repeated-gram-free texts (all tf=1); 1≡2 identical so the pair
    # collides in EVERY band — no dependence on the banding knee
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 a5 a6 a7 a8"),
            (2, "a1 a2 a3 a4 a5 a6 a7 a8"),
            (3, "b1 b2 b3 b4 b5 b6 b7 b8"),
        ],
        "doc_id long, text string",
    )
    uw = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in minhash_dedup(docs, threshold=0.3).collect()
    }
    w = {
        (r.id_a, r.id_b): round(r.wjaccard, 6)
        for r in weighted_minhash_dedup(docs, threshold=0.3).collect()
    }
    assert w == uw and len(w) > 0


def test_weighted_minhash_weights_repeated_boilerplate(spark):
    """Two docs sharing ONLY a repeated boilerplate block must score
    HIGHER weighted than unweighted when the repetition dominates their
    token mass — the asymmetry the weighting exists to capture."""
    from token_etl_spark.operators.dedup import weighted_minhash_dedup

    nav = "nav bar item " * 6  # 18 tokens of boilerplate
    docs = spark.createDataFrame(
        [(1, nav + "alpha beta"), (2, nav + "gamma delta")],
        "doc_id long, text string",
    )
    out = weighted_minhash_dedup(docs, threshold=0.1).collect()
    assert len(out) == 1
    r = out[0]
    # unweighted (distinct-set) jaccard of these docs is far lower than
    # the weighted score because the repeated grams collapse to one —
    # compare against the EXACT unweighted baseline (the LSH pipeline
    # may not even propose so dissimilar a distinct-set pair)
    from token_etl_spark.operators.dedup import ngram_jaccard_pairs

    uw = ngram_jaccard_pairs(docs, threshold=0.0).collect()
    assert len(uw) == 1 and r.wjaccard > uw[0].jaccard


def test_weighted_minhash_tf_cap_applies(spark):
    """A gram repeated beyond max_weight contributes exactly max_weight
    — the declared BM25-style saturation."""
    from token_etl_spark.operators.dedup import weighted_minhash_dedup

    word = "x y z " * 40  # one gram pattern repeated ~40x
    docs = spark.createDataFrame(
        [(1, word), (2, word)], "doc_id long, text string"
    )
    out = weighted_minhash_dedup(docs, threshold=0.5, max_weight=4).collect()
    # identical docs are 1.0 regardless of cap; the cap is exercised by
    # the expansion arrays staying <= 4 elements (would OOM-scale otherwise)
    assert len(out) == 1 and abs(out[0].wjaccard - 1.0) < 1e-12


def test_md5_hash32_matches_hashlib_prefix(spark):
    """The portable hash is the first 8 hex digits of md5 read as an
    unsigned 32-bit integer, so any engine with md5 reproduces it."""
    import hashlib

    from token_etl_spark.operators.dedup import md5_hash32

    texts = [t for _, t in DOCS] + ["", "é ünïcode"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["h"] for r in df.select(md5_hash32(F.col("t")).alias("h")).collect()]
    exp = [int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) for t in texts]
    assert got == exp
    assert all(0 <= h < 2**32 for h in got)


def test_simhash_band_pairs_have_perfect_recall_below_band_count(spark):
    """Fingerprints within hamming distance d < bands agree on at least
    one band, so banding emits every such pair; pairs that differ in
    every band are never emitted."""
    import random

    from token_etl_spark.operators.dedup import simhash_candidate_pairs

    rng = random.Random(7)
    fps = []
    for base_id in range(20):
        base = rng.getrandbits(32)
        fps.append((base_id * 10, base))
        for j in range(1, 4):  # flip j < 4 bits
            flipped = base
            for bit in rng.sample(range(32), j):
                flipped ^= 1 << bit
            fps.append((base_id * 10 + j, flipped))
    # differs in every 8-bit band from fps[0]
    fps.append((999, fps[0][1] ^ 0x01010101))
    df = spark.createDataFrame(fps, "id long, simhash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_candidate_pairs(df, bands=4, bits=32).collect()
    }
    close = {
        (a, b)
        for a, fa in fps
        for b, fb in fps
        if a < b and bin(fa ^ fb).count("1") < 4
    }
    assert close and close <= got
    assert (0, 999) not in got
    for a, b in got:
        fa, fb = dict(fps)[a], dict(fps)[b]
        assert any(((fa ^ fb) >> (8 * k)) & 0xFF == 0 for k in range(4))


def test_jaccard_verify_matches_python_sets(spark):
    from token_etl_spark.operators.dedup import jaccard_verify, shingle_arrays

    arrays = shingle_arrays(_docs(spark), k=3)
    sets = {r["id"]: set(r["sh"]) for r in arrays.collect()}
    cands = spark.createDataFrame(
        [(a, b) for a in sets for b in sets if a < b], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_verify(cands, arrays, threshold=0.5).collect()
    }
    exp = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a in sets
        for b in sets
        if a < b and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
    }
    assert set(got) == set(exp)
    assert (0, 1) in got and (0, 3) in got
    for pair, j in exp.items():
        assert math.isclose(got[pair], j, rel_tol=1e-12)
