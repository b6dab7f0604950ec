"""Deduplication operators (BASELINE.json north star: exact, MinHash+LSH,
SimHash, n-gram Jaccard — each partition-parallel, no driver loops).

Scale design:
- exact dedup is a hash-groupBy on a digest — one shuffle on the digest,
  which is uniformly distributed (no skew) by construction;
- MinHash/LSH replaces the O(n²) pairwise comparison with band-bucket
  joins: candidate pairs only form inside a bucket, and the verify step
  runs on candidates only;
- all hash functions are Spark's built-in murmur3 (``F.hash``) with a
  literal salt per permutation — JVM-side, deterministic, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.operators.text import tokens


def normalized(text: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate grouping by md5 of normalized text.

    Returns one row per distinct content: (digest, representative id =
    min id, n_copies). Filtering the input down to representatives is a
    semi-join against this frame.
    """
    digest = F.md5(normalized(F.col(text_col)))
    return (
        df.select(digest.alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Distinct k-token shingles per document: (id, shingle).

    Tokenization is materialized into a column FIRST: higher-order
    lambdas get no common-subexpression elimination, so referencing the
    tokenizer expression inside the per-index transform would re-run the
    regex split once per shingle — O(len²) per document.
    """
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    toks = F.col("toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    return base.select("id", F.explode(F.array_distinct(sh)).alias("shingle"))


def shingle_array_expr(toks: Column, k: int = 3) -> Column:
    """Distinct k-shingle array from an already-MATERIALIZED tokens
    column (must be a plain column reference, not the tokenizer
    expression — see the CSE note on :func:`shingles`)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " ")))


def shingle_arrays(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-doc distinct shingle ARRAY: (id, sh, n_shingles) — the narrow
    (shuffle-free) representation; `shingles` is its exploded form."""
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    sh = shingle_array_expr(F.col("toks"), k)
    return base.select("id", sh.alias("sh")).withColumn("n_shingles", F.size("sh"))


def minhash_sig_expr(sh: str, num_hashes: int = 32) -> Column:
    """MinHash signature as a single narrow expression over the shingle
    ARRAY column named ``sh``: sig[i] = array_min(transform(sh, s →
    murmur3(s, salt=i))). Bit-identical to the grouped
    ``minhash_signatures`` (same ``hash(shingle, i)`` per element, same
    min) because ``sh`` is never empty (``shingle_array_expr`` emits ≥ 1
    shingle per doc). One parsed expression, so building it costs the
    same few py4j round trips at any ``num_hashes``."""
    mins = ", ".join(
        f"array_min(transform(`{sh}`, x -> hash(x, {i})))" for i in range(num_hashes)
    )
    return F.expr(f"array({mins})")


def minhash_signatures(shingled: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    murmur3(shingle, salt=i). One aggregation, ``num_hashes`` JVM-side
    min() columns — no UDF, map-side partial aggregation applies. The
    aggregate list is one parsed expression (the optimizer collapses the
    array projection into the aggregate either way)."""
    mins = ", ".join(f"min(hash(shingle, {i}))" for i in range(num_hashes))
    return shingled.groupBy("id").agg(F.expr(f"array({mins}) AS sig"))


def _banded(signatures: DataFrame, bands: int, sig_len: int) -> DataFrame:
    """(id, band, bucket) frame: each band's signature slice hashed to a
    bucket key. Shared by the pair-emitting and star-edge-emitting paths.
    The band array is one parsed expression (few py4j round trips at any
    band count)."""
    rows_per_band = sig_len // bands
    structs = ", ".join(
        f"struct({b} AS band, hash(array_join(transform("
        f"slice(sig, {b * rows_per_band + 1}, {rows_per_band}), "
        f"x -> CAST(x AS STRING)), '_')) AS bucket)"
        for b in range(bands)
    )
    return signatures.select("id", F.expr(f"explode(array({structs})) AS bb")).select(
        "id", "bb.band", "bb.bucket"
    )


_CAP_ADVICE = (
    "use the linear star/cluster form "
    "(minhash_dedup_clusters) for corpora with large duplicate "
    "clusters, or raise max_bucket explicitly."
)


def _cap_bucket_size(
    banded: DataFrame,
    keys: list[str],
    max_bucket: int,
    what: str,
    advice: str = _CAP_ADVICE,
) -> DataFrame:
    """Gate a quadratic bucket join: annotate each row with its bucket's
    size via a window count over ``keys`` and assert the cap INSIDE the
    plan (a filter, so Catalyst cannot prune the assertion away).

    Shape matters twice over: (a) the window partitions on the SAME keys
    the downstream self-join shuffles on, so both join inputs read the
    one exchange (ReusedExchange) and the guard adds no extra scan,
    aggregation branch, or shuffle key; (b) the assert evaluates in the
    post-shuffle window stage — BEFORE any pair is emitted — so an
    oversized bucket fails fast with the documented message instead of
    OOMing mid-join. (A broadcast-guard variant was rejected: a lazy
    ``localCheckpoint`` of the shared frame triggers AQE stage execution
    at plan-build time, violating the no-jobs-at-plan-build gate.)"""
    wcap = Window.partitionBy(*keys)
    return (
        banded.withColumn("bucket_n", F.count("*").over(wcap))
        .filter(
            F.assert_true(
                F.col("bucket_n") <= F.lit(max_bucket),
                F.format_string(
                    what
                    + " bucket size %s exceeds max_bucket="
                    + str(max_bucket)
                    + ": pair emission would be quadratic in the duplicate-"
                    "cluster size; " + advice,
                    F.col("bucket_n"),
                ),
            ).isNull()
        )
        .drop("bucket_n")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    sig_len: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs per matching bucket.

    ``sig_len`` must divide evenly into ``bands``; each band's slice is
    hashed to a bucket key, docs sharing any (band, bucket) become a
    candidate pair. Self-join happens on the (band, bucket) key only —
    the quadratic blowup is confined to bucket-local groups (a k-member
    bucket emits k(k-1)/2 pairs; see ``lsh_star_edges`` for the linear
    alternative when clusters are large).

    ``max_bucket`` guards the quadratic path: when set, any (band,
    bucket) group larger than the cap raises an explicit runtime error
    (JVM-side ``assert_true`` inside the plan — no driver-side action at
    plan-build time, so plan hygiene holds) instead of silently emitting
    k(k-1)/2 pairs and OOMing the shuffle. A giant bucket means a giant
    duplicate cluster, which is exactly the case the linear
    ``minhash_dedup_clusters`` star form exists for — the error message
    says so. Guard mechanics (``_cap_bucket_size``): a window count over
    the SAME (band, bucket) key the self-join shuffles on — the join
    inputs reuse the one exchange, and the assert evaluates post-shuffle
    but before any pair is emitted.
    """
    banded = _banded(signatures, bands, sig_len)
    if max_bucket is not None:
        banded = _cap_bucket_size(banded, ["band", "bucket"], max_bucket, "LSH")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_star_edges(signatures: DataFrame, bands: int = 8, sig_len: int = 32) -> DataFrame:
    """Linear-output LSH candidates (PERF.md scaling probe follow-up): each
    (band, bucket) group emits member → min-id STAR edges instead of the
    full clique — k-1 edges where the pair form emits k(k-1)/2.

    The star graph has the same connected components as the clique graph
    (every member touches the bucket minimum), so downstream
    ``connected_components`` + ``dedup_keep_list`` are unaffected, while
    LSH output stays linear in corpus size even when a duplicate cluster
    has millions of members. One shuffle: the window min over
    (band, bucket).
    """
    banded = _banded(signatures, bands, sig_len)
    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("rep", F.min("id").over(w))
        .filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster-form MinHash+LSH dedup for large duplicate clusters: star
    edges → Jaccard verify → connected components. Returns
    (id, component) with component = min doc id of the near-dup cluster.

    Semantics vs ``minhash_dedup``: verification runs on the star edges
    only (linear), not every bucket-local pair — a member whose star edge
    fails the threshold drops out even if it is near some *other* member.
    For exact-copy clusters (the case that explodes pair counts) every
    star edge verifies identically, so the clusters match the pair form;
    for borderline near-dups the cluster form is the standard
    at-scale approximation.

    Raises ``RuntimeError`` (eagerly, at the call) when the star-edge
    graph does not converge within ``connected_components``' default
    ``max_iterations``, instead of returning components that are not
    the cluster-min ids.
    """
    from token_etl_spark.operators.graph import connected_components

    arrays = shingle_arrays(df, text_col, id_col, k)
    arrays.persist()
    try:
        exploded = arrays.select("id", F.explode("sh").alias("shingle"))
        sigs = minhash_signatures(exploded, num_hashes)
        edges = lsh_star_edges(sigs, bands, sig_len=num_hashes)
        edges = jaccard_verify(edges, arrays, threshold).select("id_a", "id_b")
        # connected_components localCheckpoints every round, so its result
        # no longer references `arrays` — safe to release the cache here
        # instead of leaking it across calls. Star edges are distinct
        # with rep < id by construction (bucket-min rep, post-distinct;
        # verify only removes rows) — the symmetrized edge set therefore
        # has no duplicates and CC skips its edge-dedup shuffle.
        return connected_components(edges, pairs_ordered_distinct=True)
    finally:
        arrays.unpersist()


def jaccard_verify(candidates: DataFrame, shingle_sets: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard on candidate pairs ONLY: each pair joins its two
    per-doc shingle-set arrays (``shingle_arrays`` output) and intersects
    them natively.

    Cost is O(candidates × doc_len) — never touches non-candidate pairs,
    which is the whole point of LSH (the all-pairs-sharing-a-shingle join
    lives in ngram_jaccard_pairs as the exact baseline).
    """
    sets = shingle_sets.select("id", F.col("sh"), F.col("n_shingles").alias("n"))
    a = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline → verified (id_a, id_b, jaccard).

    ``max_bucket`` (default 10,000) bounds the quadratic in-bucket pair
    emission: a larger bucket raises an explicit error at execution time
    instead of silently OOMing — ``minhash_dedup_clusters`` (linear star
    edges) is the production path for corpora with giant duplicate
    clusters. Pass ``max_bucket=None`` to restore the unguarded form.

    The per-doc shingle arrays feed two consumers — the signature
    aggregation (exploded + grouped min-aggs: whole-stage-codegen'd
    murmur3, measured ~2× faster than per-element array-transform
    lambdas) and the candidate verify (array intersection, no
    re-shingling). The arrays are cut with a LAZY ``localCheckpoint``:
    plan build stays job-free (the plan-hygiene gate), the arrays
    materialize exactly once at first action, and both consumers read
    the stored blocks — measured 4× faster than recomputing the shingle
    map per consumer (5.9 s vs 23.4 s at sf0.1), while eager ``persist``
    with no unpersist point would leak the cache across calls (ADVICE
    r1); checkpoint blocks are instead reclaimed by the ContextCleaner
    once the driver-side plan is garbage-collected.
    """
    arrays = shingle_arrays(df, text_col, id_col, k).localCheckpoint(eager=False)
    exploded = arrays.select("id", F.explode("sh").alias("shingle"))
    sigs = minhash_signatures(exploded, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, sig_len=num_hashes, max_bucket=max_bucket)
    return jaccard_verify(cands, arrays, threshold)


def weighted_minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_weight: int = 16,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """TF-WEIGHTED MinHash near-dup → verified (id_a, id_b, wjaccard).

    Unweighted Jaccard over DISTINCT shingles lets boilerplate skew both
    ways: a page that repeats one navigation block 50 times looks no
    more similar to another copy of that block than a page containing it
    once, and two long documents sharing all their repeated boilerplate
    but none of their body can score high. Weighting each shingle by its
    term frequency fixes both — the weighted Jaccard
    ``Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b)`` is the histogram
    intersection the near-dup literature weights min-hash with (Chum,
    Philbin & Zisserman 2008, BMVC, "Near Duplicate Image Detection:
    min-Hash and tf-idf Weighting").

    Sketch mechanics: INTEGER EXPANSION — a shingle with (capped) count
    c becomes expansion elements ``g#1 .. g#c``, and plain MinHash over
    the expanded multisets estimates exactly the weighted Jaccard over
    integer weights (min/max of counts = intersection/union of
    expansions; the reduction Chum et al. build on). Weights are
    ``min(tf, max_weight)`` THROUGHOUT — signature, verify, and oracle
    — so one pathological document repeating a gram 10^5 times costs a
    16-element expansion, not a 10^5-element one (the same saturation
    rationale as BM25's tf cap). ``#`` cannot collide with gram content
    (the tokenizer strips non-alphanumerics).

    100 TB shape: the (id, shingle)→count table is ONE combinable
    aggregation and feeds BOTH consumers — per-row expansion arrays are
    built INSIDE the row (≤ max_weight elements; materialized as a
    column before the 32 salted transforms per the no-CSE rule), the
    signature is an element-wise min aggregation (combinable), banding/
    bucket-cap/pair emission reuse the unweighted LSH path, and the
    verify joins each candidate pair to two per-doc COUNT MAPS (the
    jaccard_verify discipline: O(candidates × doc_len), no gram-keyed
    pair join). DECLARED SEMANTIC (same as ext_minhash_neardup): the
    engine emits the band-colliding subset, every emission verified
    exactly; pair-parity with the exact weighted pair set is pinned at
    three SFs in tests/test_dedup_oracle_parity.py.
    """
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    toks = F.col("toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    all_grams = base.select(
        "id",
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
        ).alias("shingle"),
    )
    # Count-frame sharing, measured at sf0.1 (PERF.md round 8): the
    # default recomputes the combinable (id, shingle) aggregation once
    # per consumer — a narrow lazy checkpoint of the all_grams PREFIX
    # (the CDC barrier pattern) was tried and is a wash (the agg, not
    # the explode, is the repeated cost), and a LAZY checkpoint of
    # counts itself is forbidden (shuffle-bearing frame → AQE
    # query-stage jobs at PLAN BUILD, the plan-hygiene red). An EAGER
    # checkpoint halves the run (2.5 s → 1.7 s at sf0.1) but runs a job
    # at construction, which a declared query's job-free build forbids.
    counts = (
        all_grams.groupBy("id", "shingle")
        .agg(F.count("*").alias("_tf"))
        .withColumn("c", F.least(F.col("_tf"), F.lit(max_weight)).cast("long"))
        .drop("_tf")
    )
    # per-row expansion array, materialized BEFORE the salted transforms
    expanded = counts.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.col("c")),
            lambda j: F.concat(F.col("shingle"), F.lit("#"), j.cast("string")),
        ).alias("exp"),
    )

    def _salted(i: int):
        return lambda s: F.hash(s, F.lit(i))

    row_mins = expanded.select(
        "id",
        *[
            F.array_min(F.transform("exp", _salted(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sigs = (
        row_mins.groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)])
        .select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))
    )
    cands = lsh_candidate_pairs(sigs, bands, sig_len=num_hashes, max_bucket=max_bucket)

    per_doc = counts.groupBy("id").agg(
        F.sum("c").alias("n"),
        F.map_from_entries(F.collect_list(F.struct("shingle", "c"))).alias("cmap"),
    )
    a = per_doc.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("cmap").alias("map_a")
    )
    b = per_doc.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("cmap").alias("map_b")
    )
    m = F.aggregate(
        F.map_entries("map_a"),
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + F.least(
            e.getField("value"),
            # try_element_at: NULL (not an ANSI error) on a key only in map_a
            F.coalesce(
                F.try_element_at("map_b", e.getField("key")), F.lit(0).cast("long")
            ),
        ),
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("m", m)
        .withColumn(
            "wjaccard",
            F.col("m").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("m")),
        )
        .filter(F.col("wjaccard") >= threshold)
        .select("id_a", "id_b", "wjaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs sharing ≥1 shingle (the
    baseline the LSH path approximates; quadratic in bucket-local
    collision counts — use minhash_dedup at scale)."""
    sh = shingles(df, text_col, id_col, k)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    pairs = (
        sh.withColumnRenamed("id", "id_a")
        .join(sh.withColumnRenamed("id", "id_b"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash_candidate_pairs(
    fps: DataFrame,
    bands: int = 4,
    bits: int = 32,
    id_col: str = "id",
    fp_col: str = "simhash",
    max_bucket: int | None = None,
) -> DataFrame:
    """Hamming-LSH candidate pairs over SimHash fingerprints: split the
    ``bits``-wide fingerprint into ``bands`` equal bit-slices; documents
    agreeing EXACTLY on any slice become a candidate pair. Two
    fingerprints within hamming distance d differ in at most d bands, so
    with bands > d the pigeonhole principle guarantees at least one
    matching band — banding has PERFECT recall for d < bands (unlike
    MinHash banding, whose recall is probabilistic). Carries both
    fingerprints on the pair so the hamming verify needs no re-join.

    Same shuffle shape as ``lsh_candidate_pairs``: the self-join is
    confined to (band, slice-value) buckets, and ``max_bucket`` raises
    the same explicit error on oversized buckets instead of quadratic
    pair emission."""
    bw = bits // bands
    assert bands * bw == bits, "bits must divide evenly into bands"
    mask = (1 << bw) - 1
    banded = fps.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(fp_col), b * bw)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))
    if max_bucket is not None:
        banded = _cap_bucket_size(banded, ["band", "val"], max_bucket, "SimHash band")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )


def simhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    hash_fn=None,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup pipeline → (id_a, id_b, hamming): fingerprint →
    hamming-LSH banding → exact popcount verify (``bit_count(a XOR b)``,
    a codegen'd JVM built-in).

    With ``max_hamming < bands`` (default 3 < 4) the result is EXACT —
    banding recall is perfect below the band count (see
    ``simhash_candidate_pairs``), so this equals the all-pairs hamming
    filter while only ever joining within (band, slice) buckets. The
    complement of MinHash near-dup: hamming on term-frequency sign
    vectors catches small token-level edits in long documents at a
    64-bit-per-doc memory cost, where shingle Jaccard needs the full
    shingle sets."""
    fps = simhash(df, text_col, id_col, bits, hash_fn)
    cands = simhash_candidate_pairs(
        fps, bands, bits, max_bucket=max_bucket
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _window_fp_occ(frame: DataFrame, n: Column, k: int) -> DataFrame:
    """(id, pos, fp) occurrence frame of every k-token rolling-window
    fingerprint — the shared head of ``duplicated_spans`` and
    ``dedup_spans_rewrite``. ``frame`` must carry ``id`` and ``toks``;
    ``n`` is the token-count expression over it.

    The fingerprint is the window's md5 hex, which the DuckDB oracle
    replays byte-for-byte. It hashes the joined window string exactly
    once, so building it inline inside the one transform is the
    cheapest form (binding the strings first was measured slightly
    SLOWER — an extra array materialization for nothing)."""
    seq = F.sequence(F.lit(1), n - (k - 1))
    join_win = lambda i: F.array_join(F.slice(F.col("toks"), i, k), " ")  # noqa: E731
    fps = F.when(n >= k, F.transform(seq, lambda i: F.md5(join_win(i)))
                 ).otherwise(F.array().cast("array<string>"))
    exploded = frame.select("id", F.posexplode(fps).alias("pos0", "fp"))
    return exploded.select("id", (F.col("pos0") + 1).alias("pos"), "fp")


def duplicated_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring statistics — the ExactSubstr recipe of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499) re-expressed relationally: every k-token
    rolling window of every document is fingerprinted; a window whose
    fingerprint occurs more than once CORPUS-WIDE (including repeats
    inside the same document) is *duplicated*; per document this reports
    how many windows exist, how many are duplicated, and how many token
    positions are covered by at least one duplicated window (the mass
    ExactSubstr would cut). The paper builds a suffix array — the right
    single-machine structure, but not a distributed-shuffle shape; the
    fixed-k rolling-window formulation is the standard map/reduce
    equivalent (fingerprint → global occurrence count → interval union)
    and is what this engine runs at corpus scale.

    Returns (id, n_tokens, n_windows, n_dup_windows, dup_tokens,
    dup_fraction) — one row per input document, zeros when nothing is
    duplicated or the document is shorter than k tokens.

    Plan shape for 100 TB: the window fingerprint array is a narrow
    per-row ``transform`` over the materialized token array (no
    re-tokenization per window — the CSE trap documented on
    :func:`shingles`); ``posexplode`` emits ~one row per corpus token.
    The global occurrence count is a single window count partitioned by
    fingerprint (ONE shuffle on a uniformly-distributed md5 key — no
    join back, no second shuffle of the occurrence frame), then the
    per-document interval union is a lag window over the (much smaller)
    duplicated subset keyed by document. Fingerprints are full md5 hex
    strings so the DuckDB oracle replays them byte-for-byte.

    Token-position coverage is the classic sorted-interval union: window
    starts are strictly increasing within a document, so each duplicated
    window at position p newly covers ``min(k, p - prev_p)`` tokens
    (``prev_p`` = previous duplicated start, ``p - k`` when none — i.e.
    full k). Summing that per document is the union length without any
    per-token explode.
    """
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    n = F.size(F.col("toks"))
    stats = base.select(
        "id",
        n.cast("long").alias("n_tokens"),
        F.greatest(n - (k - 1), F.lit(0)).cast("long").alias("n_windows"),
        F.col("toks"),
    )
    occ = _window_fp_occ(stats, n, k)
    w_fp = Window.partitionBy("fp")
    dup = occ.withColumn("n_occ", F.count("*").over(w_fp)).filter(F.col("n_occ") > 1)
    w_doc = Window.partitionBy("id").orderBy("pos")
    cov = F.least(
        F.lit(k).cast("long"),
        F.col("pos") - F.coalesce(F.lag("pos").over(w_doc), F.col("pos") - k),
    )
    per_doc = (
        dup.withColumn("cov", cov)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.sum("cov").alias("dup_tokens"),
        )
    )
    return (
        stats.drop("toks")
        .join(per_doc, "id", "left")
        .select(
            "id",
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def dedup_spans_rewrite(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr REWRITE (the transform `duplicated_spans` only
    measures): remove every duplicated k-token window occurrence except
    the corpus-FIRST one — Lee et al. 2022's "remove all but one" rule
    at fixed-window granularity — and rebuild the document text from
    the surviving token positions.

    Occurrence ranking is deterministic: ``row_number`` per fingerprint
    ordered by (doc_id, pos); occurrences ranked ≥ 2 are removal spans.
    Tokens covered by any removal span are cut; the first occurrence
    (and every non-duplicated token) survives, so one copy of every
    substring remains in the corpus. Fixed-k windows approximate the
    paper's maximal-match semantics: a duplicated run of length L ≥ k is
    covered by its L−k+1 windows and removed wholesale in later
    documents; runs shorter than k are below the dedup granularity by
    definition. A removal span in a later document may partially overlap
    a span that document keeps — the cut is position-based, not
    re-matched; this is the declared fixed-k approximation.

    Plan shape for 100 TB, on top of `duplicated_spans`' fingerprint
    shuffle: the removal positions per document collapse to ONE sorted
    array (a small per-doc state — only duplicated window starts, not
    tokens), joined back to the corpus on id; the rebuild is then a
    narrow higher-order filter — token at 1-based position p survives
    iff no removal start s satisfies s ≤ p < s+k. Per-row cost is
    O(n_tokens × n_removal_spans) in the worst (heavily duplicated)
    case, all JVM-side; no per-token explode-and-range-join.

    Returns (id, n_tokens, n_removed, cleaned).
    """
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    n = F.size(F.col("toks"))
    occ = _window_fp_occ(base, n, k)
    w_rank = Window.partitionBy("fp").orderBy("id", "pos")
    removals = (
        occ.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") >= 2)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    joined = base.join(removals, "id", "left").withColumn(
        "starts", F.coalesce("starts", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("starts"), lambda s: (s <= i + 1) & (i + 1 < s + k)
        ),
    )
    # ``kept`` (the O(n_tokens x n_spans) survival filter) feeds both
    # n_removed and cleaned; as two column expressions in one projection
    # it would run twice per row (no cross-column CSE) — bind it once
    # (CollapseProject keeps a non-trivial multiply-referenced alias
    # materialized).
    return joined.withColumn("_kept", kept).select(
        "id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size("_kept")).cast("long").alias("n_removed"),
        F.array_join("_kept", " ").alias("cleaned"),
    )


def md5_hash32(c: Column) -> Column:
    """First 32 bits of md5 as an unsigned long. Slower than murmur3 but
    PORTABLE: any engine with md5 + hex parsing reproduces it exactly
    (DuckDB: ``('0x' || substr(md5(x), 1, 8))::BIGINT``), which makes
    operators built on it cross-engine verifiable. Still fully JVM-side
    in Spark (md5 + conv are codegen'd built-ins, no UDF)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_fn=None,
) -> DataFrame:
    """SimHash fingerprint: per-token hash, each bit votes ±1, the
    sign vector packs into a ``bits``-wide integer. All native: the vote
    sums are ``bits`` aggregate columns over the exploded token frame.

    ``hash_fn`` defaults to murmur3 (``F.hash``, the fast path); pass
    ``md5_hash32`` for a hash an external SQL engine can recompute
    bit-for-bit (the oracled query uses that)."""
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
    h = (hash_fn or F.hash)(F.col("tok"))
    votes = [
        F.sum(
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = tok.groupBy("id").agg(*votes)
    packed = None
    for b in range(bits):
        bit = (F.col(f"v{b}") > 0).cast("long") * F.lit(2**b).cast("long")
        packed = bit if packed is None else packed + bit
    return voted.select("id", packed.alias("simhash"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int = 20,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT — the quote/
    inclusion case Jaccard-banded LSH structurally misses: a short
    document embedded inside a long one has containment
    |Sa ∩ Sb| / min(|Sa|, |Sb|) ≈ 1 but Jaccard ≈ |Sa|/|Sb| → 0, far
    below any MinHash band's recall knee (Broder 1997 distinguishes
    resemblance from containment for exactly this reason).

    Candidate generation is RARE-SHINGLE BLOCKING, not MinHash: two
    documents are candidates iff they share at least one shingle with
    document frequency ≤ ``max_df``. This is a declared semantic, not an
    approximation to patch later — the oracle replays the same df cap,
    so results are bit-stable at every scale. The cap is also what makes
    the plan scale: a shingle with df ≤ d emits ≤ d(d−1)/2 pairs, so
    boilerplate shingles ('terms of service apply') with corpus-wide df
    are excluded from BLOCKING (never from the verify) and the pair
    frame is linear-ish in corpus size instead of quadratic. Recall
    argument: a contained document that shares ONLY ubiquitous shingles
    with its container is boilerplate by definition — the pairs worth
    flagging share content, and content shingles are rare.

    Verify is exact and ARRAY-based (the ``jaccard_verify`` pattern):
    the candidate pairs — a frame bounded by the blocking, orders of
    magnitude smaller than the corpus — join the per-doc shingle ARRAYS
    once per side and intersect natively, instead of re-shuffling the
    exploded shingle frame through two more joins (measured 8.0 s →
    faster at sf0.1 for identical output; the exploded frame is touched
    only by the df count and the blocking join). Returns
    (id_a, id_b, n_common, n_a, n_b, containment) for pairs with
    containment ≥ ``threshold``, id_a < id_b.

    The per-doc shingle-array frame feeds three consumers (the exploded
    blocking path and both verify sides), so it is cut with the same
    lazy ``localCheckpoint`` as ``minhash_dedup``:
    tokenize+shingle runs once, plan build stays job-free.
    """
    arrays = shingle_arrays(df, text_col=text_col, id_col=id_col, k=k).localCheckpoint(
        eager=False
    )
    sh = arrays.select("id", F.explode("sh").alias("shingle"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    blocked = sh.join(rare, "shingle")
    cands = (
        blocked.alias("a")
        .join(blocked.alias("b"), "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    a = arrays.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = arrays.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    out = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "containment",
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .where(F.col("containment") >= F.lit(float(threshold)))
    )
    return out.select(
        "id_a", "id_b", "n_common",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "containment",
    )


def minhash_index_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Per-doc near-dup index rows: (id, sig, sh, n_shingles) — the
    MinHash signature plus the distinct-shingle array that exact
    verification needs. One row per document, so the index is
    corpus-linear and appendable: persist it once, then every new crawl
    deduplicates against it WITHOUT re-shingling the already-kept corpus
    (``minhash_match_index``), and kept newcomers append their own rows
    (parquet append — rows are per-doc independent, so appends never
    rewrite).

    The whole frame is a NARROW map (tokenize → shingle array →
    per-element ``minhash_sig_expr``): no explode, no aggregation, no
    join. That matters twice at scale: the index build is a single
    shuffle-free scan of the corpus, and a lazy ``localCheckpoint`` of
    this frame is plan-build-job-free (an earlier explode→groupBy→join
    form made the same checkpoint materialize 4 AQE query stages at plan
    construction under Spark 4.x — see ``_cap_bucket_size``'s note on
    that trap)."""
    arrays = shingle_arrays(df, text_col, id_col, k)
    return arrays.select(
        "id", minhash_sig_expr("sh", num_hashes).alias("sig"), "sh", "n_shingles"
    )


def minhash_match_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Incremental near-dup: match a NEW batch against a persisted
    ``minhash_index_frame`` — the LSH analog of ``cross_corpus_dedup``
    (which only catches EXACT copies by digest). Returns verified
    (id_new, id_ref, jaccard) pairs; new docs with no row are novel.

    Same-id re-delivery (at-least-once sources / continuation streams):
    a doc re-delivered under the SAME id in a later batch MATCHES its
    own index copy (jaccard 1.0) and is therefore treated as a
    duplicate — the index never accumulates duplicate rows per id. A
    batch never matches its own partial state write on a foreachBatch
    retry: ``streaming/dedup`` excludes the batch's own state partition
    from the index it passes.

    This is the steady-state shape of corpus dedup at 100 TB: the
    10 TB/day crawl shingles and signs ONLY itself (corpus-side work is
    a parquet scan of sig/band columns — the index frame is read, never
    checkpointed or re-derived), candidates come from the (band, bucket)
    equi-join of the two banded frames, and the exact verify touches
    candidate pairs only. Per-(band, bucket) emission is
    |new ∩ bucket| × |ref ∩ bucket| — ``max_bucket`` caps the COMBINED
    bucket population via an in-plan assert on the (band, bucket) COUNT
    frame (bounded by distinct buckets, not rows), which then semi-
    filters the new side through the same (band, bucket) exchange the
    pair join shuffles on. The count aggregation completes before the
    join stage emits a single pair, so an oversized boilerplate bucket
    fails loudly first. (An earlier union+window form re-derived both
    banded sides once per consumer branch — measured 23 s vs 2.8 s at
    sf0.1 for identical output.)

    The new side's (sig, shingle-set) frame feeds the banding AND the
    verify, so it is cut with a lazy ``localCheckpoint`` — safe here
    because ``minhash_index_frame`` is a narrow map (no shuffle in its
    lineage, so the lazy checkpoint queues no AQE stage at plan build);
    the caller's ``index`` is deliberately NOT checkpointed (at scale it
    is a parquet table — rescanning columns beats copying it into
    executor storage).
    """
    new_idx = minhash_index_frame(
        new_docs, text_col, id_col, k, num_hashes
    ).localCheckpoint(eager=False)
    new_banded = _banded(new_idx.select("id", "sig"), bands, num_hashes).select(
        F.col("id").alias("id_new"), "band", "bucket"
    )
    ref_banded = _banded(index.select("id", "sig"), bands, num_hashes).select(
        F.col("id").alias("id_ref"), "band", "bucket"
    )
    if max_bucket is not None:
        counts = (
            new_banded.select("band", "bucket")
            .unionByName(ref_banded.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("bucket_n"))
        )
        guarded = counts.filter(
            F.assert_true(
                F.col("bucket_n") <= F.lit(max_bucket),
                F.format_string(
                    "index-LSH bucket size %s exceeds max_bucket="
                    + str(max_bucket)
                    + ": cross-side pair emission would be quadratic in the"
                    " bucket population; " + _CAP_ADVICE,
                    F.col("bucket_n"),
                ),
            ).isNull()
        ).select("band", "bucket")
        new_banded = new_banded.join(guarded, ["band", "bucket"])
    cands = new_banded.join(ref_banded, ["band", "bucket"]).select(
        "id_new", "id_ref"
    )
    cands = cands.distinct()
    a = new_idx.select(
        F.col("id").alias("id_new"), F.col("sh").alias("sh_a"), F.col("n_shingles").alias("n_a")
    )
    b = index.select(
        F.col("id").alias("id_ref"), F.col("sh").alias("sh_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        cands.join(a, "id_new")
        .join(b, "id_ref")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_ref", "jaccard")
    )


def dup_inflation_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplication-factor histogram — the corpus-health report behind
    every dedup decision: how many exact-duplicate clusters exist at
    each multiplicity, and what share of the corpus they hold (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", reports exactly this inflation curve to size the dedup
    win before running it).

    Plan shape (the 100 TB design): digest → per-digest count (one
    combinable aggregation, shuffle carries |distinct digests| rows) →
    per-multiplicity rollup of THAT frame (second agg over an already
    collapsed frame, cardinality = |distinct cluster sizes| — tiny) →
    corpus total derived from the same counts frame (sum(c * 1) — no
    second corpus scan; ReuseExchange serves it from the digest
    shuffle, the ``skew_profile`` discipline). Nothing touches document
    text after the first map.

    Returns (cluster_size, n_clusters, n_docs, share) — ``n_docs =
    cluster_size * n_clusters``, ``share`` its fraction of all rows.
    """
    digests = df.select(F.md5(F.col(text_col)).alias("_d"))
    counts = digests.groupBy("_d").agg(F.count("*").alias("c"))
    hist = counts.groupBy(F.col("c").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    total = counts.agg(F.sum("c").alias("_tot"))
    return (
        hist.withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long")
        )
        .crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n_docs").cast("double") / F.col("_tot"))
        .drop("_tot")
    )


def dedup_audit_sample(
    pairs: DataFrame,
    k_per_band: int = 5,
    n_bands: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
    sim_col: str = "jaccard",
) -> DataFrame:
    """Stratified audit sample of near-dup pairs: ``k_per_band``
    deterministically-chosen pairs from each similarity band — the
    human-review slate a dedup rollout ships alongside its threshold
    choice (precision at 0.5 is meaningless if nobody looked at pairs
    NEAR 0.5; band-stratified sampling is how the threshold gets
    audited without eyeballing millions of pairs).

    Bands are equal-width over [0, 1] (``least(floor(sim * n_bands),
    n_bands - 1)``); within a band pairs rank by md5 of the id pair —
    deterministic, uniform, replayable (the ``stratified_sample_exact``
    hash-rank discipline). Plan: one window per band partition over the
    PAIR frame — bounded by the dedup candidate output, which every
    upstream generator already caps (banded LSH / max_bucket), never by
    the corpus.
    """
    band = F.least(
        F.floor(F.col(sim_col) * n_bands).cast("long"), F.lit(n_bands - 1).cast("long")
    )
    rk = F.md5(
        F.concat_ws("_", F.col(id_a).cast("string"), F.col(id_b).cast("string"))
    )
    w = Window.partitionBy("band").orderBy("_rk")
    return (
        pairs.withColumn("band", band)
        .withColumn("_rk", rk)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k_per_band)
        .drop("_rk")
    )


def source_overlap_matrix(
    pairs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "source",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cross-source duplication matrix: near-dup PAIR counts grouped by
    the (unordered) source pair — the provenance report that tells a
    corpus team which feeds mirror each other (syndication, scraped
    re-hosts) and should be deduped against each other first. RefinedWeb
    and FineWeb both report cross-dump overlap this way before choosing
    dedup scope.

    The label frame is broadcast twice (it is a per-doc (id, source)
    projection — at 100 TB pre-aggregate to distinct ids first);
    the matrix itself is an aggregation over the PAIR frame, bounded by
    the upstream candidate caps. Source pairs are canonicalized
    (lexicographically ordered) so A~B and B~A collapse to one cell.
    """
    la = labels.select(
        F.col(id_col).alias(id_a), F.col(label_col).alias("_sa")
    )
    lb = labels.select(
        F.col(id_col).alias(id_b), F.col(label_col).alias("_sb")
    )
    return (
        pairs.join(F.broadcast(la), id_a)
        .join(F.broadcast(lb), id_b)
        .select(
            F.least("_sa", "_sb").alias("source_lo"),
            F.greatest("_sa", "_sb").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def dedup_threshold_curve(pairs: DataFrame, step: float = 0.05) -> DataFrame:
    """Threshold-tuning curve over a verified near-dup pairs frame
    (id_a, id_b, jaccard): pair counts per similarity band of width
    ``step`` plus the cumulative count AT OR ABOVE each band — the curve
    a dedup owner reads to pick the Jaccard cutoff (how many more pairs
    each 0.05 of threshold relaxation admits; the knee is the setting,
    cf. Lee 2022 §3's threshold sensitivity). Pairs-frame seam like
    ``dedup_audit_sample``: feed it the pipeline's own LSH-verified
    pairs (``minhash_dedup``) — at 100 TB the curve is a free rollup of
    a frame the dedup pass already materialized, never a new pair join.

    ``step`` must be an exact divisor of 1 (1/k for integer k — 0.05,
    0.1, 0.25, ...): bands are computed as ``floor(jaccard * k) / k``
    with INTEGER k, which is identical IEEE arithmetic on both engines
    (multiplying by a float step and flooring would mislabel bands for
    steps like 0.3 — the function raises instead of silently
    substituting 1/round(1/step)). The rollup is one combinable count
    aggregation; the cumulative sum is a window over the band frame —
    at most k + 1 rows, never the pair set.
    """
    inv = round(1.0 / step)
    if inv < 1 or abs(1.0 / inv - step) > 1e-12:
        raise ValueError(
            f"step must be 1/k for integer k (got {step}); bands are"
            " floor(jaccard * k) / k and a non-divisor step would be"
            " silently relabeled"
        )
    banded = pairs.groupBy(
        (F.floor(F.col("jaccard") * inv) / inv).alias("band_lo")
    ).agg(F.count("*").cast("long").alias("n_pairs"))
    w = (
        Window.orderBy(F.col("band_lo").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return banded.withColumn(
        "n_pairs_at_or_above", F.sum("n_pairs").over(w).cast("long")
    ).select("band_lo", "n_pairs", "n_pairs_at_or_above")
