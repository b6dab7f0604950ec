"""Similarity search over embedding columns (BASELINE.json north star).

Brute-force cosine top-k is the exactness baseline: broadcast the (small)
query set against the corpus — the corpus never shuffles, the per-row
dot product runs JVM-side via higher-order array functions
(``zip_with`` + ``aggregate``), and top-k is a per-query window.

The scale path is LSH bucketing (random-hyperplane signs): each vector
hashes to a ``n_planes``-bit bucket; queries probe only their bucket
(optionally multi-probe neighbors), turning O(|Q|·|C|) into
O(|Q|·|C|/2^bits) expected comparisons. Hyperplanes are generated
deterministically (seeded numpy) and enter the plan as literals.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# The vector helpers below return SQL TEXT over SQL expressions (column
# names, usually), so a caller parses a whole scoring expression once
# with ``F.expr``: a fixed few py4j round trips, where every
# Python-built higher-order function costs about twenty. Lambda
# variables are named x, y as PySpark names them, so the parsed plans
# equal the Python-built ones.


def dot(a: str, b: str) -> str:
    """JVM-side dot product of two array<double> expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (x, y) -> x + y)"


def norm(a: str) -> str:
    return f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, (x, y) -> x + y))"


def cosine(a: str, b: str) -> str:
    """Cosine similarity of two array<double> expressions. CONTRACT: both
    vectors nonzero (the embedding-table invariant, same as
    ``quantize_vec``) — a zero operand is an upstream data bug and
    raises ANSI DIVIDE_BY_ZERO rather than silently scoring 0/NaN.
    Derived vectors with a legitimate zero case (label centroids, where
    members can cancel) guard their own division instead
    (``source_centroid_similarity``)."""
    return f"{dot(a, b)} / ({norm(a)} * {norm(b)})"


def cosine_pre(a: str, b: str, na: str, nb: str) -> str:
    """``cosine(a, b)`` with both norms precomputed as columns:
    bit-identical floats (same dot fold, same ``norm(a) * norm(b)``
    multiply order on the same input bits) while letting join/argmax
    call sites evaluate each row's norm ONCE instead of once per
    candidate pair. The higher-order-function folds are interpreted
    per element (never whole-stage-codegen'd — guide §4), so dropping
    from 3 folds per pair (dot + 2 norms) to 1 (dot only) cuts the
    dominant per-pair cost ~3× — measured 3.0 → 1.3 s on the sf0.1
    SemDeDup in-cluster verify with an identical surviving pair set."""
    return f"{dot(a, b)} / ({na} * {nb})"


def l2_normalize(a: str) -> str:
    """Unit-normalize an array<double> expression (JVM-side). On the unit
    sphere cosine similarity reduces to a plain dot product, which is what
    spherical k-means exploits. Same nonzero-input contract as
    :func:`cosine`; a cluster mean of exactly zero (members cancelling
    bit-perfectly) would raise loudly here, which is the wanted
    behavior for a quantizer — a directionless centroid is a training
    bug, not a value."""
    return f"transform({a}, x -> x / {norm(a)})"


def unit_vec(vec_col: str) -> Column:
    """The column ``vec_col`` as a unit array<double>."""
    return F.expr(l2_normalize(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k nearest corpus
    vectors (excluding itself). Queries are broadcast; ties break on
    neighbor id for determinism."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
        .withColumn("_qn", F.expr(norm("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("_cn", F.expr(norm("cv")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.expr(cosine_pre("qv", "cv", "_qn", "_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def knn_label_consistency(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space label-noise detection by k-NN neighborhood vote
    (the deep-kNN conformity signal of Papernot & McDaniel 2018,
    arXiv:1803.04765; neighborhood-disagreement is also the working
    signal behind Confident Learning's label-error candidates,
    Northcutt et al. 2021, JAIR 70): for every vector, take its ``k``
    nearest neighbors by cosine and compare its own label against the
    neighborhood — rows whose neighborhood majority disagrees are
    mislabeled-data candidates, the standard curation sweep before
    training a classifier head on labeled embeddings.

    Returns one row per corpus row: (id, label, n_same, majority_label,
    agreement, suspect) — ``n_same`` = neighbors sharing the row's
    label, ``majority_label`` = the neighborhood's plurality label
    (ties to the smallest label), ``agreement`` = n_same / |neighbors|,
    ``suspect`` = majority disagrees with the row's own label.

    ``neighbors`` accepts a pre-computed (query_id, neighbor_id, rank)
    frame — at 100 TB feed ``ivf_topk(corpus, corpus, ...)`` (or the
    persisted-index search) instead of the exact default: brute force
    is n² cosine and exists as the small-corpus/eval-set baseline, the
    same split as the ANN family. The vote itself is two low-cardinality
    aggregations on the neighbor frame (bounded by n·k rows) plus
    broadcast-sized label joins — never a second quadratic pass.
    """
    nb = (
        neighbors
        if neighbors is not None
        else brute_force_topk(corpus, corpus, k, id_col, vec_col)
    )
    lab = corpus.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("long").alias("label")
    )
    nlab = nb.join(
        lab.select(F.col("id").alias("neighbor_id"), F.col("label").alias("nlab")),
        "neighbor_id",
    ).select(F.col("query_id").alias("id"), "nlab")
    cnt = nlab.groupBy("id", "nlab").agg(F.count("*").cast("long").alias("c"))
    # Single-pass vote (r15): the earlier form fanned ``cnt`` into three
    # consumers (majority window, total agg, own-count join) and joined
    # them back — triplicating the whole neighbor-production chain in
    # the compiled plan (ReuseExchange served the copies at RUNTIME, so
    # wall-clock was a wash in the interleaved sf0.1 A/B: 3.39 vs
    # 3.37 s). Attaching the row's own label to ``cnt`` and aggregating
    # once still wins on plan shape — one aggregation instead of a
    # window plus three joins, and no reliance on exchange reuse to
    # avoid recomputing the salted IVF cell join per branch.
    # ``max_by(nlab, (c, -nlab))`` replays the majority tie-break
    # (c DESC, nlab ASC) exactly — on a full tie both fields equal, so
    # the picked value is unique; both oracles replay unchanged.
    voted = (
        cnt.join(lab, "id")
        .groupBy("id", "label")
        .agg(
            F.max_by(
                "nlab", F.struct(F.col("c").alias("c"), (-F.col("nlab")).alias("nl"))
            ).alias("majority_label"),
            F.sum("c").cast("long").alias("_n_nb"),
            F.sum(F.when(F.col("nlab") == F.col("label"), F.col("c"))).alias("_same"),
        )
    )
    return voted.select(
        "id",
        "label",
        F.coalesce("_same", F.lit(0)).cast("long").alias("n_same"),
        "majority_label",
        (F.coalesce("_same", F.lit(0)) / F.col("_n_nb").cast("double")).alias(
            "agreement"
        ),
        (F.col("majority_label") != F.col("label")).alias("suspect"),
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _double_array(xs: list[float]) -> str:
    """SQL text of a literal array<double>."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in xs) + ")"


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id of the array<double> column
    ``vec_col``: bit b = sign(vec · plane_b)."""
    bits = "".join(
        f" + CAST(({dot(vec_col, _double_array(plane))} > 0) AS BIGINT) * CAST({2**b} AS BIGINT)"
        for b, plane in enumerate(planes)
    )
    return F.expr(f"CAST(0 AS BIGINT){bits}")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within matching LSH buckets.

    Recall is tunable via ``n_planes`` (fewer planes → bigger buckets →
    higher recall, more comparisons). The bucket computation is a
    narrow map; the candidate join shuffles on the bucket id — uniform
    by construction of the random planes.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("bucket", lsh_bucket("cv", planes)).withColumn(
        "_cn", F.expr(norm("cv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", lsh_bucket("qv", planes)).withColumn(
        "_qn", F.expr(norm("qv"))
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.expr(cosine_pre("qv", "cv", "_qn", "_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    probe_hamming: int = 1,
    probe_t: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007, "Multi-probe LSH:
    efficient indexing for high-dimensional similarity search", VLDB):
    each query probes its own bucket PLUS every bucket within Hamming
    distance ``probe_hamming`` of its code — near misses on one or two
    hyperplane signs are exactly where true neighbors land, so recall
    rises steeply while the corpus side keeps ONE bucket per vector
    (same single narrow bucketing pass; only the tiny query side
    explodes, by Σ C(n_planes, d) probes). This recovers the recall a
    single-probe table only gets by shrinking n_planes — without the
    bigger buckets: probing 1+n of 2^n buckets scans a ~(1+n)/2^n corpus
    fraction vs 1/2^(n-1) for dropping a plane, a better
    recall/comparisons frontier (measured in PERF.md).

    A candidate sits in exactly one bucket and probe masks are distinct,
    so no candidate pair duplicates — no dedup stage. Deterministic:
    same seeded planes as ``lsh_topk``; oracle-replayable (the probe
    masks are integer literals, the flip is a bitwise XOR).

    ``probe_t`` switches to the paper's MARGIN-RANKED selection: instead
    of all C(n, d) Hamming-d flips, each query flips only the
    ``probe_t`` planes whose boundary it sits closest to (smallest
    |q·plane| — the flips most likely to hold a lost neighbor), probing
    probe_t+1 buckets total. Same per-query determinism (margins are
    pinned-fold dot products, ties break on the plane index), still
    oracle-replayable.
    """
    import itertools

    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("bucket", lsh_bucket("cv", planes)).withColumn(
        "_cn", F.expr(norm("cv"))
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", lsh_bucket("qv", planes)).withColumn(
        "_qn", F.expr(norm("qv"))
    )
    if probe_t is not None:
        margins = F.expr(
            "array("
            + ", ".join(
                f"struct(abs({dot('qv', _double_array(planes[b]))}) AS m, {b} AS b)"
                for b in range(n_planes)
            )
            + ")"
        )
        pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(n_planes)])
        chosen = F.slice(F.array_sort(margins), 1, probe_t)
        masks_col = F.concat(
            F.array(F.lit(0).cast("long")),
            F.transform(
                chosen, lambda s: F.element_at(pow2, s.getField("b") + 1)
            ),
        )
        probe = F.explode(masks_col).alias("mask")
    else:
        masks = [0]
        for d in range(1, probe_hamming + 1):
            for comb in itertools.combinations(range(n_planes), d):
                masks.append(sum(1 << b for b in comb))
        probe = F.explode(
            F.array(*[F.lit(m_).cast("long") for m_ in masks])
        ).alias("mask")
    q = qb.select("query_id", "qv", "_qn", "bucket", probe).select(
        "query_id", "qv", "_qn",
        F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.expr(cosine_pre("qv", "cv", "_qn", "_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: centroids = a deterministic sample of corpus
    vectors (ids 0..n_centroids-1 — k-means init without the iterations;
    one ``fit`` pass of Lloyd's would drop in here), assignment = argmax
    cosine against the broadcast centroid set.

    Returns (assigned corpus with ``centroid_id``, centroids frame).
    One narrow pass over the corpus — the centroid table is tiny and
    broadcast, and the assignment argmax is map-only
    (``_assign_to_centroids``); nothing shuffles until a later per-cell
    operation.
    """
    cents = F.broadcast(_sample_centroids(corpus, n_centroids, id_col, vec_col))
    base = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    assigned = _assign_to_centroids(base, cents, "cv", False, n_centroids)
    return assigned, cents


def _sample_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """The untrained quantizer: the ``n_centroids`` smallest-id corpus
    vectors, each keeping its own id as ``centroid_id``.

    A ``row_number() <= n`` filter, not ``orderBy().limit(n)``: a
    codegen'd limit stage names its counter from a JVM-global id, so it
    compiles a fresh class on every run, while the filter's classes hit
    the codegen cache. The filter still plans as a partial
    ``WindowGroupLimit`` per partition before the single-partition
    exchange, so only ``n`` rows per partition move."""
    return (
        corpus.select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid_vec"),
            F.row_number().over(Window.orderBy(id_col)).alias("_rn"),
        )
        .where(F.col("_rn") <= n_centroids)
        .drop("_rn")
    )


def lloyd_refine(assigned: DataFrame) -> DataFrame:
    """One Lloyd's iteration over an IVF assignment: new centroid =
    per-cell mean vector (:func:`_grouped_mean` over ``centroid_id``).
    Returns a centroids frame usable as the quantizer for re-assignment.
    """
    return _grouped_mean(assigned, ["centroid_id"], "cv", "centroid_vec")


def _grouped_mean(
    df: DataFrame, keys: list[str], vec_col: str, out_col: str
) -> DataFrame:
    """Per-group mean vector — the refinement step of every Lloyd loop
    here (the IVF cells and the PQ codebooks). Distributed as a single
    aggregation: the mean of array columns is computed with
    ``posexplode`` + groupBy (group, position), then re-assembled with
    ``collect_list`` ordered by position."""
    means = (
        df.select(*keys, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg("x").alias("m"))
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.getField("m"),
        ).alias(out_col)
    )


#: centroid count at or above which the argmax assignment auto-routes
#: through the Arrow-vectorized twin: the declarative higher-order-
#: function cosine fold is interpreted per element (HOFs never enter
#: whole-stage codegen), costing O(n x n_centroids x dim) closure
#: evaluations — measured 50.5 s for 20k x 160 x 64 vs 4.0 s Arrow
#: (r14 scaling probe). Below the threshold (every oracle-replayed
#: gate constant lives at 16) the declarative form stays: zero jobs at
#: plan build, and the driver-green plans keep their exact shape.
_ARROW_ASSIGN_MIN = 64


def _assign_argmax_arrow(
    base: DataFrame,
    cents: DataFrame,
    vec_name: str,
    with_sim: bool,
) -> DataFrame:
    """Arrow-vectorized twin of the broadcast-argmax assignment — the
    SCALE path for large centroid counts (SemDeDup/IVF scale n_centroids
    with the corpus, and the interpreted HOF fold's n x n_centroids x
    dim closure cost becomes the dominant term; r14 scaling probe).

    BIT-EXACT to the declarative form, by construction, pinned in
    tests/test_similarity.py:
    - the per-dimension accumulation loop replays ``dot``'s
      aggregate(zip_with) strict left-to-right fold order in float64;
    - norms square-accumulate in the same index order, sqrt last;
    - one multiply then one divide replays ``cosine``'s op order;
    - np.argmax's first-max tie replays the (sim, -centroid_id) struct
      max (centroids are scanned in ascending id order).

    Collects the centroid table (broadcast-sized by contract — the same
    bound the declarative form's collect_list broadcast row relies on)
    and ships it via a SparkContext broadcast, so calling this runs one
    centroid-cardinality job; callers are the iterative k-means family,
    which runs jobs at build regardless."""
    spark = base.sparkSession
    rows = sorted(
        cents.select("centroid_id", "centroid_vec").collect(),
        key=lambda r: r["centroid_id"],
    )
    ids = [int(r["centroid_id"]) for r in rows]
    mat = [list(map(float, r["centroid_vec"])) for r in rows]
    bc = spark.sparkContext.broadcast((ids, mat))

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    fields = list(base.schema.fields) + [StructField("centroid_id", LongType())]
    if with_sim:
        fields.append(StructField("centroid_sim", DoubleType()))
    out_schema = StructType(fields)

    def gen(batches):
        import numpy as np

        cids, C = bc.value
        C = np.asarray(C, dtype=np.float64)
        cids = np.asarray(cids, dtype=np.int64)
        nc, dim = C.shape
        cn = np.zeros(nc)
        for i in range(dim):
            cn = cn + C[:, i] * C[:, i]
        cn = np.sqrt(cn)
        if np.any(cn == 0.0):
            raise ValueError(
                "zero-norm centroid vector — the nonzero-input contract "
                "the declarative cosine() enforces via ANSI "
                "DIVIDE_BY_ZERO; a directionless centroid is a training "
                "bug, not a value"
            )
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_name]]
            )
            an = np.zeros(n)
            dots = np.zeros((n, nc))
            for i in range(dim):
                ai = A[:, i]
                an = an + ai * ai
                dots = dots + ai[:, None] * C[None, :, i]
            if np.any(an == 0.0):
                raise ValueError(
                    "zero-norm corpus vector — the nonzero-input contract "
                    "the declarative cosine() enforces via ANSI "
                    "DIVIDE_BY_ZERO (numpy would silently score NaN)"
                )
            sims = dots / (np.sqrt(an)[:, None] * cn[None, :])
            best = np.argmax(sims, axis=1)
            out = pdf.copy()
            out["centroid_id"] = cids[best]
            if with_sim:
                out["centroid_sim"] = sims[np.arange(n), best]
            yield out

    return base.mapInPandas(gen, schema=out_schema)


def _pair_cosine_arrow(
    pairs: DataFrame,
    va: str,
    vb: str,
    threshold: float | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Arrow-vectorized cosine over JOINED vector pairs — the scale
    twin of ``cosine(va, vb)`` applied row-wise after a cell/cluster
    join (the SemDeDup in-cluster verify and the IVF candidate verify
    both reduce to exactly this shape, and the declarative HOF fold is
    interpreted per element; r14 scaling probe). BIT-EXACT to
    ``cosine`` by the same construction as :func:`_assign_argmax_arrow`:
    sequential per-dimension accumulation for the dot and both norms,
    multiply-then-divide. ``threshold`` filters (>=) without emitting
    the value; ``out_col`` appends the cosine as a column; exactly one
    must be given. Narrow (mapInPandas over the join output — no
    shuffle added)."""
    if (threshold is None) == (out_col is None):
        raise ValueError("_pair_cosine_arrow: pass exactly one of threshold/out_col")
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = (
        pairs.schema
        if out_col is None
        else StructType(list(pairs.schema.fields) + [StructField(out_col, DoubleType())])
    )

    def gen(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.array([np.asarray(v, dtype=np.float64) for v in pdf[va]])
            B = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vb]])
            dim = A.shape[1]
            da = np.zeros(n)
            db = np.zeros(n)
            dd = np.zeros(n)
            for i in range(dim):
                ai, bi = A[:, i], B[:, i]
                dd = dd + ai * bi
                da = da + ai * ai
                db = db + bi * bi
            if np.any(da == 0.0) or np.any(db == 0.0):
                raise ValueError(
                    "zero-norm vector in pair cosine — the nonzero-input "
                    "contract the declarative cosine() enforces via ANSI "
                    "DIVIDE_BY_ZERO (numpy would silently score NaN)"
                )
            sims = dd / (np.sqrt(da) * np.sqrt(db))
            if out_col is not None:
                out = pdf.copy()
                out[out_col] = sims
                yield out
            else:
                yield pdf[sims >= threshold]

    return pairs.mapInPandas(gen, schema=schema)


def _arrow_route(n_rows: int | None) -> bool:
    """The one Arrow-vs-declarative decision, for the assignment argmax
    and the SemDeDup pair verify alike: a centroid table of at least
    ``_ARROW_ASSIGN_MIN`` rows takes the bit-exact Arrow twins — the
    interpreted HOF fold's cost grows with n_centroids and the scale
    regime trains MANY centroids; the gate constants (16) keep the
    declarative, job-free-build form. ``None`` (a row count the caller
    did not take) keeps the declarative form."""
    return n_rows is not None and n_rows >= _ARROW_ASSIGN_MIN


def _quantizer(
    centroids: DataFrame | None,
    n_centroids: int,
    build: Callable[[], DataFrame],
) -> tuple[DataFrame, int]:
    """``(cents, n_rows)``: the centroid table a call assigns against and
    the row count :func:`_arrow_route` decides on. A SUPPLIED table is
    counted — one job over a broadcast-sized (by contract) frame, so a
    large pre-trained table under a default ``n_centroids`` cannot keep
    the interpreted O(n x n_centroids x dim) HOF path (ADVICE r14).
    Otherwise ``build()`` makes the table, which has exactly
    ``n_centroids`` rows and costs no count."""
    if centroids is not None:
        return centroids, centroids.count()
    return build(), n_centroids


def _centroid_scores(
    base: DataFrame, cents: DataFrame, vec_col: str, *carry: str
) -> tuple[DataFrame, Column]:
    """The broadcast centroid scorer: ``base`` joined to the centroid
    table collapsed into ONE broadcast row (``_cents``, an array of
    (centroid_id, centroid_vec, *carry, cnorm) structs), and the per-row
    array of (sim, neg_id, *carry) structs scoring every centroid by
    cosine against ``vec_col``. MAP-ONLY — no shuffle. ``array_max`` of
    it is the argmax with ties to the smallest centroid_id (struct max
    on (sim, -centroid_id)), matching the oracle's ``row_number() OVER
    (ORDER BY sim DESC, centroid_id)`` exactly; sorting it descending
    ranks the cells in that same order.

    Norms are precomputed once per row (``_nv``) and once per centroid
    (``cnorm``) instead of once per (row, centroid): the cosine values
    are bit-identical (cosine_pre) while the interpreted fold count per
    row drops from 3 x n_centroids to n_centroids + 1."""
    carr = F.broadcast(
        cents.agg(
            F.collect_list(
                F.struct(
                    F.col("centroid_id"),
                    F.col("centroid_vec"),
                    *[F.col(c) for c in carry],
                    F.expr(norm("centroid_vec")).alias("cnorm"),
                )
            ).alias("_cents")
        )
    )
    sim = cosine_pre(f"`{vec_col}`", "x.centroid_vec", "_nv", "x.cnorm")
    carried = "".join(f", x.`{c}` AS `{c}`" for c in carry)
    scores = F.expr(
        f"transform(_cents, x -> struct({sim} AS sim, -x.centroid_id AS neg_id{carried}))"
    )
    return base.withColumn("_nv", F.expr(norm(f"`{vec_col}`"))).join(carr), scores


def _assign_to_centroids(
    base: DataFrame,
    cents: DataFrame,
    vec_col: str,
    with_sim: bool,
    n_rows: int | None = None,
) -> DataFrame:
    """Assign each row of ``base`` to its max-cosine centroid: base's
    columns plus ``centroid_id`` (and, ``with_sim``, the winning cosine
    as ``centroid_sim``).

    MAP-ONLY (:func:`_centroid_scores` + ``array_max``). The previous
    form (broadcast join + ``Window.partitionBy(corpus_id)``) shuffled
    the n_centroids-times-expanded corpus on corpus_id once per call —
    i.e. per Lloyd iteration — which is a full-corpus shuffle at 100 TB
    for what is semantically a narrow operation. The cosine is the same
    expression as the oracle's, so the float bits agree.

    ``n_rows`` is the centroid table's row count (:func:`_quantizer`);
    :func:`_arrow_route` sends large tables through the bit-exact Arrow
    twin (:func:`_assign_argmax_arrow`)."""
    if _arrow_route(n_rows):
        return _assign_argmax_arrow(base, cents, vec_col, with_sim)
    scored, scores = _centroid_scores(base, cents, vec_col)
    best = [(-F.col("_b.neg_id")).alias("centroid_id")]
    if with_sim:
        best.append(F.col("_b.sim").alias("centroid_sim"))
    return scored.withColumn("_b", F.array_max(scores)).select(*base.columns, *best)


#: Lloyd rounds between eager lineage-truncating checkpoints on the
#: declarative assignment path (the Arrow path stays at 1 — it collects
#: the centroid table per round). 4 bounds plan nesting while cutting
#: the per-round driver barrier + block write (VERDICT r15 item 4);
#: tests pin that the cadence does not change the trained centroids.
_KMEANS_CKPT_EVERY = 4


def _lloyd(
    cents: DataFrame,
    n_iters: int,
    step: Callable[[DataFrame], DataFrame],
    every_round: bool,
) -> DataFrame:
    """Run ``n_iters`` Lloyd rounds (``step``: previous table → refined
    table) under the one checkpoint cadence of every trainer here
    (spherical k-means, the PQ codebooks).

    Cadence (guide §2.6 / VERDICT r15 item 4): the eager per-round
    checkpoint serialized one driver barrier + block write per Lloyd
    round, but its only job is lineage truncation — each round
    references the previous table ONCE (the broadcast-fold agg), so
    nesting a few rounds into one plan is linear, not exponential, and
    one eager cut per ``_KMEANS_CKPT_EVERY`` rounds (always on the last)
    materializes the same values with K× fewer barriers.
    ``every_round`` cuts each round instead: the Arrow assignment twin
    COLLECTS the centroid table at round start, and an uncut chain would
    recompute all prior rounds per collect. Bit-identical either way:
    the checkpoint is semantics-free and the plan shapes/partitioning
    under the aggregations are unchanged (pinned in
    tests/test_similarity.py)."""
    for it in range(n_iters):
        cents = step(cents)
        if every_round or (it + 1) % _KMEANS_CKPT_EVERY == 0 or it == n_iters - 1:
            cents = cents.localCheckpoint(eager=True)
    return cents


def spherical_kmeans(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_means: bool = False,
) -> DataFrame:
    """Spherical k-means trainer for the IVF coarse quantizer (ROADMAP 2).

    Classic Lloyd alternation on the unit sphere: assign → per-cell mean →
    re-project the mean onto the sphere. Init is the same deterministic
    corpus sample as ``ivf_assign``. Each iteration is one low-cardinality
    shuffle (cell × dim) over the corpus; the evolving centroid table stays
    broadcast. ``localCheckpoint`` truncates the per-iteration lineage so
    the plan does not grow exponentially with ``n_iters`` (same pattern as
    operators/graph.py pointer doubling).

    Returns a ``(centroid_id, centroid_vec)`` frame with unit-norm vectors.
    ``keep_means=True`` additionally returns ``centroid_mean`` — the final
    round's UN-normalized cell mean. The mean is the within-cell variance
    minimizer, so residual encoders (``ivfpq_residual_topk``) must subtract
    IT, not the re-projected direction: pushing the centroid back to the
    sphere moves it away from the mean and measurably INFLATES residual
    energy above the raw vectors (residual reconstruction MSE 0.83 vs raw
    0.61 at sf0.1 defaults before this split; see PERF.md). Routing still
    uses the normalized ``centroid_vec`` — cosine order on the sphere.
    """
    base = corpus.select(
        F.col(id_col).alias("corpus_id"),
        unit_vec(vec_col).alias("cv"),
    ).localCheckpoint(eager=False)
    # a row_number filter, not orderBy().limit() (_sample_centroids)
    cents = base.select(
        F.row_number().over(Window.orderBy("corpus_id")).alias("centroid_id"),
        F.col("cv").alias("centroid_vec"),
    ).where(F.col("centroid_id") <= n_centroids)
    def step(prev: DataFrame) -> DataFrame:
        assigned = _assign_to_centroids(
            base, prev.select("centroid_id", "centroid_vec"), "cv", False, n_centroids
        )
        return (
            lloyd_refine(assigned)
            .withColumnRenamed("centroid_vec", "centroid_mean")
            .withColumn("centroid_vec", F.expr(l2_normalize("centroid_mean")))
        )

    cents = _lloyd(cents, n_iters, step, _arrow_route(n_centroids))
    if not keep_means:
        return cents.select("centroid_id", "centroid_vec")
    if n_iters == 0:
        return cents.withColumn("centroid_mean", F.col("centroid_vec"))
    return cents.select("centroid_id", "centroid_vec", "centroid_mean")


def _probe(q: DataFrame, cents: DataFrame, n_probe: int, *carry: str) -> DataFrame:
    """The query prober of every IVF search here: ``(query_id, qv,
    centroid_id, *carry)`` — each ``(query_id, qv)`` query's ``n_probe``
    nearest cells by cosine, ties to the smallest centroid_id. The
    centroid table is broadcast; the query norm is computed once per
    query (not once per centroid) and the centroid norm once per
    centroid row — bit-identical ranking (cosine_pre)."""
    q_scored = (
        q.withColumn("_qn", F.expr(norm("qv")))
        .join(F.broadcast(cents.withColumn("_cn", F.expr(norm("centroid_vec")))))
        .withColumn(
            "sim",
            F.expr(cosine_pre("qv", "centroid_vec", "_qn", "_cn")),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    return (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "centroid_id", *carry)
    )


#: Sub-buckets per centroid cell in the IVF candidate join
#: (:func:`_cell_join_topk`).
_CELL_SALTS = 8


def _cell_join_topk(
    probes: DataFrame,
    assigned: DataFrame,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """The IVF candidate join + exact verify + per-query rank, shared by
    ``ivf_topk`` and ``ivf_search``.

    ``exclude_self=True`` drops ``query_id == corpus_id`` pairs — right
    when the query frame is the corpus (or a subset of it), where a row's
    trivial self-match (cosine 1.0) would waste a top-k slot. For an
    EXTERNAL query namespace (``ivf_search`` against a persisted index)
    it must be False: there an id equal to some corpus id denotes a
    DIFFERENT vector, and excluding it would silently drop a legitimate
    neighbor.

    The cell join's key is SALTED (``_CELL_SALTS`` sub-buckets of each
    centroid cell, assigned side keyed by hash(corpus_id), probe side
    replicated across all salts): a plain join on ``centroid_id`` has
    n_centroids distinct keys, and — worse — AQE coalesces its
    post-shuffle partitions by SHUFFLE BYTES, which are tiny (the join
    inputs are per-row frames) while the join OUTPUT expands them into
    |queries| × n_probe / n_centroids × |cell| scored pairs. Measured
    at sf0.1 with a corpus-sized query side: the whole 1M-pair cosine
    verify serialized onto ONE coalesced task, 12.9 s vs ~1.3 s salted
    (r8 finding). Both inputs get EXPLICIT-numPartitions repartitions
    (AQE never coalesces user-specified partition counts), so the join
    runs co-partitioned at n_centroids × _CELL_SALTS key granularity and
    only (ids, sim) flow onward to the rank window's query_id exchange
    — the vectors never shuffle again after the cell join.

    Replication cost: the probe side is duplicated ``_CELL_SALTS``× through
    one exchange — per replica one (query_id, qv, centroid_id) row, the
    standard replicated-fragment trade. Every (probe, corpus-row) pair
    still matches exactly once (on the corpus row's own salt), so the
    emitted pair set — and every oracle — is unchanged.
    """
    spark = probes.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # norms once per corpus row / probe row, BEFORE the cell join (one
    # extra double per row through the exchange, ~3× less interpreted
    # fold work per scored pair — cosine_pre, bit-identical)
    asg = assigned.withColumn("_cn", F.expr(norm("cv"))).withColumn(
        "_salt", F.pmod(F.xxhash64("corpus_id"), F.lit(_CELL_SALTS)).cast("int")
    ).repartition(n_parts, "centroid_id", "_salt")
    prb = probes.withColumn("_qn", F.expr(norm("qv"))).withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_CELL_SALTS)]))
    ).repartition(n_parts, "centroid_id", "_salt")
    cand = prb.join(asg, ["centroid_id", "_salt"])
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("corpus_id"))
    # NOTE (r14, measured): this verify deliberately does NOT route
    # through _pair_cosine_arrow. Unlike the SemDeDup pair filter —
    # where the threshold drops almost every pair INSIDE the Python
    # worker, so little flows back — the rank window needs EVERY scored
    # candidate, and shipping both 64-dim vectors per pair through
    # Arrow costs more than the interpreted HOF fold saves (A/B at sf1
    # nc=160: 38-44 s arrow vs 24-27 s declarative). The declarative
    # cosine also keeps the verify fused with the join in one JVM stage.
    scored = cand.withColumn(
        "cosine_sim",
        F.expr(cosine_pre("qv", "cv", "_qn", "_cn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("corpus_id").alias("neighbor_id"), "cosine_sim", "rank"
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: assign corpus to centroid cells once, probe each
    query's ``n_probe`` nearest cells only.

    Expected comparisons per query: |corpus| × n_probe / n_centroids.
    The cell join is salted (``_cell_join_topk``) so its parallelism is
    n_centroids × _CELL_SALTS, not n_centroids — and immune to AQE's
    bytes-based coalescing, which otherwise serializes the expansion
    join's verify onto one task when the query side is corpus-sized.

    ``refine_iters > 0`` trains the quantizer with spherical k-means
    instead of the raw sample — tighter cells, higher recall at the same
    n_probe (measured in PERF.md). ``centroids`` shares a pre-trained
    quantizer (train once, reuse — the corpus-wide Lloyd shuffles are
    the only training cost; same seam as ``semantic_dedup``). Both build
    through :func:`build_ivf_index_frames`, the persisted index's own
    builder.
    """
    if refine_iters > 0 or centroids is not None:
        cents, assigned = build_ivf_index_frames(
            corpus, n_centroids, refine_iters, id_col, vec_col, centroids
        )
    else:
        assigned, cents = ivf_assign(corpus, n_centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    return _cell_join_topk(_probe(q, cents, n_probe), assigned, k)


def build_ivf_index_frames(
    corpus: DataFrame,
    n_centroids: int = 16,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The index-build logic of :func:`build_ivf_index` as lazy frames:
    returns ``(centroids, assignments)`` — the spherical-k-means quantizer
    (or the caller-shared pre-trained ``centroids``) and the corpus keyed
    by centroid cell. :func:`build_ivf_index` persists exactly these
    frames; a declared query can instead feed them straight into
    :func:`ivf_search_frames`, exercising the identical build+serve logic
    without a plan-build write job."""
    cents, n_rows = _quantizer(
        centroids,
        n_centroids,
        lambda: spherical_kmeans(corpus, n_centroids, refine_iters, id_col, vec_col),
    )
    cents = cents.select("centroid_id", "centroid_vec")
    base = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    return cents, _assign_to_centroids(base, F.broadcast(cents), "cv", False, n_rows)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train and persist an IVF index: ``{path}/centroids`` (the spherical
    k-means quantizer) and ``{path}/assignments`` (corpus rows keyed by
    centroid cell, partitioned by cell for partition-pruned probes).

    Decouples the train cost from query batches: repeated ``ivf_search``
    calls skip both training and corpus assignment. At 100 TB the
    assignments table is the corpus re-partitioned once; each probe reads
    only n_probe/n_centroids of it via partition pruning.

    The index commits whole through ``io.sinks._full_swap``: it replaces
    any tree at ``path`` (stream-admitted partitions included), and a
    crash mid-build leaves the previous index intact.
    """
    from token_etl_spark.io.sinks import _full_swap

    cents, assigned = build_ivf_index_frames(
        corpus, n_centroids, refine_iters, id_col, vec_col
    )
    # co-partition on the cell before the partitioned write: without it
    # every writing task splays a file into every cell dir (tasks ×
    # cells tiny files — the r10 partitionBy finding, measured 4,098 →
    # 130 files on the bucketed-state sink). One task per cell caps
    # write parallelism at n_centroids, which at scale exceeds the
    # cluster's parallelism anyway.
    cells = assigned.repartition(n_centroids, "centroid_id").write
    _full_swap(
        corpus.sparkSession,
        path,
        {
            "centroids": cents.write.parquet,
            "assignments": cells.partitionBy("centroid_id").parquet,
        },
    )


def ivf_search_frames(
    cents: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The serving logic of :func:`ivf_search` over already-loaded index
    frames (``(centroid_id, centroid_vec)`` and
    ``(corpus_id, cv, centroid_id)``): broadcast centroid ranking per
    query, then the salted cell join with ``exclude_self=False`` — the
    external-namespace contract. :func:`ivf_search` delegates here after
    its parquet reads, so a declared query exercising this function
    exercises the exact code path a production cluster serves through."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    return _cell_join_topk(_probe(q, cents, n_probe), assigned, k, exclude_self=False)


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search against a persisted IVF index (``build_ivf_index``).

    The centroid table is broadcast to rank cells per query; the
    assignments scan is filtered to the probed cells — a partition-pruned
    read, not a full corpus scan (cells are parquet partitions).

    Queries live in their OWN id namespace: a ``query_id`` that happens
    to collide with a ``corpus_id`` denotes a different vector, so the
    cell join runs with ``exclude_self=False`` — the colliding corpus
    row is a legitimate neighbor and is kept (pinned by the colliding-id
    test in ``tests/test_similarity.py``).
    """
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/assignments")
    return ivf_search_frames(cents, assigned, queries, k, n_probe, id_col, vec_col)


def ivf_cell_stats(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cell occupancy report for an IVF index: one row per TRAINED
    centroid (empty cells included at ``n_vectors = 0``) with ``share``
    = cell count / corpus size and ``imbalance`` = count × n_centroids /
    corpus size (1.0 = perfectly balanced; ≫1 = a hot cell).

    The maintenance signal a serving owner watches: IVF probe cost is
    |corpus| × n_probe / n_centroids only while cells stay balanced — a
    drifted corpus concentrates into few cells, probe latency follows
    the hottest cell, and a high max-imbalance is the retrain trigger
    (rebuild the quantizer via ``build_ivf_index``, backfill).

    The divisor is the TRAINED centroid count, not the nonempty-cell
    count: normalizing by nonempty cells scores any
    uniform-over-its-nonempty-cells distribution 1.0 — including the
    everything-in-one-cell extreme the report exists to catch (a 16-cell
    quantizer fully drifted into 1 cell must read imbalance 16, not 1;
    r10 review). That is why ``centroids`` is a required argument.

    Scale shape: ONE combinable count at n_centroids key cardinality
    over the assignments frame (or a metadata-only scan of the persisted
    index's cell partitions); the left join against the ≤ n_centroids
    centroid-id frame and the 1-row ratio join are both broadcasts. All
    ratios are exact-integer divisions in double — deterministic
    cross-engine.
    """
    counts = centroids.select("centroid_id").join(
        assigned.groupBy("centroid_id").agg(
            F.count("*").cast("long").alias("n_vectors")
        ),
        "centroid_id",
        "left",
    ).fillna(0, ["n_vectors"])
    tot = counts.agg(
        F.sum("n_vectors").cast("long").alias("_total"),
        F.count("*").cast("long").alias("_n_cells"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "centroid_id",
        "n_vectors",
        (F.col("n_vectors").cast("double") / F.col("_total")).alias("share"),
        (
            F.col("n_vectors").cast("double") * F.col("_n_cells") / F.col("_total")
        ).alias("imbalance"),
    )


def quantize_vec(v: Column) -> Column:
    """Symmetric int8-range quantization: each component maps to
    round(x * 127 / max|x|) via ``floor(y + 0.5)`` — an explicit
    round-half-up, chosen over engine ``round()`` builtins because their
    half-way rules differ (Spark bround = half-even, DuckDB = half-away)
    while floor(+0.5) is identical IEEE arithmetic everywhere, which is
    what lets the DuckDB oracle replay quantization bit-for-bit.

    The mapping is scale-invariant (the norm cancels: (x/n)·127/(mx/n)
    = x·127/mx), so DO NOT pre-normalize the input — composing with
    l2_normalize changes nothing mathematically but nests the norm fold
    inside this function's per-element lambda, and higher-order lambdas
    get no common-subexpression elimination (the round-1 shingle trap,
    PERF.md): measured 37 s vs 0.5 s for 2,000 × 64-dim vectors. As
    written the only inlined subexpression is the one array_max scan —
    O(dim²) per vector, the acceptable no-CSE cost.

    At 100 TB this is the storage/IO lever for ANN: 8× smaller than
    float64 columns, and candidate scoring becomes integer arithmetic.
    Requires a nonzero vector (max|x| > 0), which embeddings are."""
    mx = F.array_max(F.transform(v, F.abs))
    return F.transform(v, lambda x: F.floor(x * F.lit(127.0) / mx + F.lit(0.5)).cast("long"))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over int8-quantized vectors (``quantize_vec``,
    scale-invariant so dot-of-quantized approximates cosine): broadcast
    queries → INTEGER dot product → per-query rank. Integer scores make
    ranking exactly reproducible across engines (no float-tie ambiguity
    at all — ties break on neighbor_id deterministically), so the oracle
    contract is a hash match. Recall vs exact cosine in PERF.md."""
    def prep(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            quantize_vec(F.col(vec_col).cast("array<double>")).alias(out_vec),
        )

    q = F.broadcast(prep(queries, "query_id", "qv"))
    c = prep(corpus, "neighbor_id", "cv")
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "qdot",
            F.aggregate(
                F.zip_with("qv", "cv", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "rank")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus vectors
    whose cosine similarity to ANY benchmark vector reaches
    ``threshold`` — the semantic complement of the shingle-overlap scans
    (``curation.ngram_decontaminate`` / ``bloom.bloom_decontaminate``),
    catching paraphrased or reformatted eval leakage that shares no
    exact n-gram.

    Returns one row per corpus vector: (id, best_match, best_sim,
    contaminated). ``best_match`` is the nearest benchmark vector
    (ties broken on the LOWEST benchmark id, deterministically). An
    EMPTY benchmark yields contaminated = false with NULL
    best_match/best_sim — array_max over the empty array is NULL, and
    an uncoalesced NULL flag turns any downstream ``~contaminated``
    filter into drop-everything.

    100 TB shape: eval suites are small, so the benchmark side collapses
    to ONE broadcast row (id-sorted struct array — deterministic fold
    order) and the scan is MAP-ONLY: per corpus row, an array transform
    scores every benchmark vector and a struct ``array_max`` picks the
    best — no join, no shuffle, whole output is corpus-partitioned. For
    a benchmark too large to broadcast, pre-reduce it with
    ``spherical_kmeans`` and decontaminate against centroids (coarse
    pass) before exact-checking survivors.
    """
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # bn is the THIRD struct field, so array_sort still orders on the
    # unique bid first — identical fold order, norms computed once per
    # benchmark vector instead of once per (corpus row, benchmark row)
    barr = F.broadcast(
        benchmark.select(
            F.col(bench_id_col).alias("bid"),
            F.col(bench_vec_col).cast("array<double>").alias("bv"),
        ).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("bid"), F.col("bv"), F.expr(norm("bv")).alias("bn"))
                )
            ).alias("_bench")
        )
    )
    sim = cosine_pre("v", "x.bv", "_nv", "x.bn")
    best = F.expr(
        f"array_max(transform(_bench, x -> struct({sim} AS sim, -x.bid AS neg_id)))"
    )
    return (
        base.withColumn("_nv", F.expr(norm("v")))
        .join(barr)
        .withColumn("_best", best)
        .select(
            "id",
            (-F.col("_best.neg_id")).alias("best_match"),
            F.col("_best.sim").alias("best_sim"),
            F.coalesce(
                F.col("_best.sim") >= F.lit(float(threshold)), F.lit(False)
            ).alias("contaminated"),
        )
    )


def _id_vectors(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, v)``: the corpus rows the SemDeDup/D4/outlier family
    assigns."""
    return corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )


def prototypicality_filter(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    drop_pct: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SSL-prototype diversification — the second stage of D4 (Tirumala
    et al. 2023, "D4: Improving LLM Pretraining via Document De-Duplication
    and Diversification", arXiv:2308.12284): after SemDeDup removes
    semantic near-duplicates, rank each cluster's members by cosine
    similarity to their centroid and DROP the most prototypical
    ``drop_pct`` percent — the redundant "template" documents nearest
    the cluster center — keeping the diverse tail.

    Per cluster of size n the drop count is ``(n * drop_pct) div 100``
    (integer arithmetic, so the oracle reproduces the boundary exactly);
    rank 1 = highest centroid similarity, ties on id. Returns one row
    per corpus row: (id, centroid_id, centroid_sim, cluster_n,
    proto_rank, kept).

    100 TB shape: training and assignment are the ``semantic_dedup``
    path (broadcast centroid table, map-only argmax); the rank and the
    cluster count share ONE shuffle on centroid_id (two windows over the
    same partition key reuse the exchange). Unlike SemDeDup's in-cluster
    pair join there is nothing quadratic here — per-cluster cost is the
    sort, so this stage scales strictly better than the dedup stage that
    precedes it; oversized clusters are bounded the same way (grow
    n_centroids with the corpus).
    """
    cents, n_rows = _quantizer(
        centroids,
        n_centroids,
        lambda: spherical_kmeans(corpus, n_centroids, n_iters, id_col, vec_col),
    )
    return _prototypes(corpus, cents, n_rows, drop_pct, id_col, vec_col)


def _prototypes(
    corpus: DataFrame,
    cents: DataFrame,
    n_rows: int,
    drop_pct: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """:func:`prototypicality_filter` against a resolved quantizer."""
    assigned = _assign_to_centroids(
        _id_vectors(corpus, id_col, vec_col), cents, "v", True, n_rows
    ).localCheckpoint(eager=False)
    w_rank = Window.partitionBy("centroid_id").orderBy(
        F.col("centroid_sim").desc(), F.col("id")
    )
    w_n = Window.partitionBy("centroid_id")
    drop_n = F.expr(f"(cluster_n * {int(drop_pct)}) div 100")
    return (
        assigned.withColumn("proto_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("cluster_n", F.count("*").over(w_n).cast("long"))
        .select(
            "id",
            "centroid_id",
            "centroid_sim",
            "cluster_n",
            "proto_rank",
            (F.col("proto_rank") > drop_n).alias("kept"),
        )
    )


def _probe_cells(
    corpus: DataFrame,
    cents: DataFrame,
    n_assign: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell): each row's top-``n_assign`` cells by cosine (ties to
    the smallest centroid_id — the first element equals the
    primary assignment's argmax, so n_assign=1 reproduces primary
    assignment exactly). Map-only broadcast, narrow explode."""
    scored, scores = _centroid_scores(_id_vectors(corpus, id_col, vec_col), cents, "v")
    ranked = F.slice(F.reverse(F.array_sort(scores)), 1, n_assign)
    return scored.select("id", F.explode(ranked).alias("_c")).select(
        "id", (-F.col("_c.neg_id")).alias("cell")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    centroids: DataFrame | None = None,
    n_assign: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with spherical k-means, then flag semantic
    near-duplicates WITHIN each cluster (pairwise cosine >= threshold)
    and keep one exemplar per duplicate neighborhood — the member with
    the LOWEST cosine similarity to its centroid (the paper's
    diversity-preserving exemplar rule), ties broken on id.

    Keep rule (deterministic, star-form): a row is dropped iff some
    same-cluster neighbor with cosine >= threshold precedes it in
    (centroid_sim ASC, id ASC) order. Like ``lsh_star_edges`` vs the
    pair form, this is a per-row decision against the neighborhood —
    no transitive closure, no quadratic *output*.

    100 TB shape: training is ``spherical_kmeans`` (broadcast centroid
    table, one low-cardinality shuffle per Lloyd iteration); assignment
    is MAP-ONLY (``_assign_to_centroids``); the in-cluster pair join
    shuffles the corpus once on centroid_id. Per-cluster work is
    quadratic in cluster size — the paper's own regime, made tractable
    by scaling n_centroids with the corpus (cluster size ~ n/k stays
    bounded when k grows with n). With k partitions ~ k clusters the
    join parallelizes per cluster; skewed (oversized) clusters are the
    known failure mode and should be re-split by raising n_centroids.
    ``max_cluster`` guards that failure mode the same way
    ``lsh_candidate_pairs(max_bucket=...)`` guards LSH buckets: an
    in-plan window count over centroid_id (the pair join's own shuffle
    key — the exchange is reused, no extra scan) that raises an explicit
    error BEFORE any quadratic pair is emitted, instead of OOMing
    mid-join when the clustering degenerates (e.g. a boilerplate spike
    collapsing into one cell).

    ``n_assign > 1`` probes each row's top-n cells in the PAIR SEARCH
    (primary assignment still defines centroid_sim, the exemplar order,
    and the output centroid_id): near-dup pairs straddling a cluster
    bisector assign to different primary cells and are invisible at
    n_assign=1 — the paper's known boundary blind spot, pinned in
    tests/test_similarity.py — but any pair within a true near-dup
    cosine shares a top-2 cell unless the tie is three-way. Cost:
    the pair join's left/right sides grow n_assign-fold (candidate work
    ×n_assign², still n/k-bounded per cell); pairs meeting in two
    shared cells are deduplicated before counting. n_assign=1 is
    bit-identical to the original semantics (the declared oracle runs
    there).

    Returns one row per corpus row: (id, centroid_id, centroid_sim,
    n_dups, kept).
    """
    cents, n_rows = _quantizer(
        centroids,
        n_centroids,
        lambda: spherical_kmeans(corpus, n_centroids, n_iters, id_col, vec_col),
    )
    return _semantic_dedup(
        corpus, cents, n_rows, threshold, id_col, vec_col, max_cluster, n_assign
    )


def _semantic_dedup(
    corpus: DataFrame,
    cents: DataFrame,
    n_rows: int,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_cluster: int | None,
    n_assign: int,
) -> DataFrame:
    """:func:`semantic_dedup` against a resolved quantizer."""
    assigned = _assign_to_centroids(
        _id_vectors(corpus, id_col, vec_col), cents, "v", True, n_rows
    ).localCheckpoint(eager=False)
    if n_assign > 1:
        members, cell = _probe_cells(corpus, cents, n_assign, id_col, vec_col), "cell"
    else:
        members, cell = assigned, "centroid_id"
    if max_cluster is not None:
        from token_etl_spark.operators.dedup import _cap_bucket_size

        members = _cap_bucket_size(
            members, [cell], max_cluster, "semantic-dedup cluster",
            advice=(
                "raise n_centroids so cluster size ~ n/k stays bounded "
                "(SemDeDup scales k with the corpus), or raise max_cluster "
                "explicitly."
            ),
        )

    def side(src: DataFrame, t: str, *keys: str) -> DataFrame:
        return src.select(
            F.col("id").alias(f"id_{t}"),
            F.col("v").alias(f"v{t}"),
            *keys,
            F.col("centroid_sim").alias(f"sim_{t}"),
        ).withColumn(f"_n{t}", F.expr(norm(f"v{t}")))

    if n_assign > 1:
        # Candidate IDs come from a cells-only self-join and are DEDUPED
        # BEFORE the cosine verify: a pair can meet in up to n_assign
        # shared cells, and verifying per-meeting computed every dim-d
        # cosine up to n_assign times while shuffling full vectors
        # through the cell join. Pair-IDs-first matches the oracle's
        # cand CTE shape and attaches vectors/sims exactly once per
        # distinct pair.
        cand = (
            members.select(F.col("id").alias("id_a"), cell)
            .join(members.select(F.col("id").alias("id_b"), cell), cell)
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        joined = cand.join(side(assigned, "a"), "id_a").join(side(assigned, "b"), "id_b")
    else:
        joined = (
            side(members, "a", cell)
            .join(side(members, "b", cell), cell)
            .filter(F.col("id_a") != F.col("id_b"))
        )
    # scale regime: the in-cluster verify's HOF cosine routes through
    # the bit-exact Arrow twin alongside the assignment (same switch)
    if _arrow_route(n_rows):
        joined = _pair_cosine_arrow(joined, "va", "vb", threshold=threshold)
    else:
        joined = joined.filter(
            F.expr(cosine_pre("va", "vb", "_na", "_nb"))
            >= threshold
        )
    dup = (
        joined.groupBy(F.col("id_b").alias("id"))
        .agg(
            F.count("*").alias("n_dups"),
            F.max(
                (
                    F.struct(F.col("sim_a"), F.col("id_a"))
                    < F.struct(F.col("sim_b"), F.col("id_b"))
                ).cast("int")
            ).alias("has_pred"),
        )
    )
    return assigned.join(dup, "id", "left").select(
        "id",
        "centroid_id",
        "centroid_sim",
        F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
        (F.coalesce("has_pred", F.lit(0)) == 0).alias("kept"),
    )


def d4_select(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    threshold: float = 0.3,
    drop_pct: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """End-to-end D4 (Tirumala et al. 2023, arXiv:2308.12284): SemDeDup
    then SSL-prototype diversification, exactly as the paper composes
    them — duplicates go first, then the most prototypical survivors.

    One spherical-k-means training run is SHARED by both stages (the
    ``centroids`` pass-through): training is the only corpus-wide
    iterative cost, so at 100 TB it must not run twice — and sharing it
    also keeps both stages' cluster geometry consistent, which the
    second stage's per-cluster quota assumes. A caller that ALREADY has
    a trained table (an IVF index, a sibling query in the same session)
    passes it via ``centroids`` and the composition trains zero times;
    the table is counted once for both stages.
    Prototypicality ranks the SURVIVORS of the dedup stage (left-semi
    join), so the drop quota applies to the deduplicated cluster sizes,
    matching the paper's ordering.

    Returns one row per corpus row: (id, centroid_id, centroid_sim,
    n_dups, semdedup_kept, cluster_n, proto_rank, proto_kept, keep) —
    ``keep`` = survived both stages; rows dropped by stage 1 carry null
    stage-2 columns.
    """
    cents, n_rows = _quantizer(
        centroids,
        n_centroids,
        lambda: spherical_kmeans(corpus, n_centroids, n_iters, id_col, vec_col),
    )
    sem = _semantic_dedup(
        corpus, cents, n_rows, threshold, id_col, vec_col, max_cluster, 1
    )
    survivors = corpus.join(
        sem.filter(F.col("kept")).select(F.col("id").alias(id_col)),
        id_col,
        "left_semi",
    )
    proto = _prototypes(survivors, cents, n_rows, drop_pct, id_col, vec_col)
    return (
        sem.select(
            "id",
            "centroid_id",
            "centroid_sim",
            "n_dups",
            F.col("kept").alias("semdedup_kept"),
        )
        .join(
            proto.select("id", "cluster_n", "proto_rank", F.col("kept").alias("proto_kept")),
            "id",
            "left",
        )
        .withColumn(
            "keep",
            F.col("semdedup_kept") & F.coalesce(F.col("proto_kept"), F.lit(False)),
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ)


def _subvectors(vec: Column, m: int, dsub: int) -> Column:
    """Split an array<double> into ``m`` contiguous ``dsub``-dim pieces."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(vec, s * dsub + 1, dsub),
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a single pinned-order fold over the zipped
    difference — one expression both engines replay term-for-term (the
    ``dot``/cosine pattern; subtraction/multiply/add are exactly-rounded,
    so the fold value is bit-identical when the element order is)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train product-quantization codebooks (Jégou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
    33(1)): split each vector into ``m`` contiguous ``dim/m``-dim
    subvectors and run an independent ``k``-centroid L2 k-means in each
    subspace. Vectors are l2-normalized FIRST (train, encode, and query
    alike): on the unit sphere squared-L2 order equals cosine order
    (‖a−b‖² = 2 − 2·a·b), so PQ distances rank like the engine's cosine
    baselines. Returns (sub, code_id, code_vec) — m×k rows, the codebook
    frame every other PQ operator broadcasts.

    ALL m subspaces train in the SAME distributed job per Lloyd round
    (:func:`_pq_lloyd`): the corpus explodes once into (vec_id, sub, sv)
    and assignment/refinement group by (sub, code) — the subspace is
    just another key, so training cost is one corpus pass per iteration
    regardless of m (not m separate k-means runs). The DuckDB oracle
    unrolls the whole loop exactly as ``_kmeans_cte_members`` does for
    the IVF trainer.
    """
    sub = _pq_subs(corpus, m, dim, id_col, vec_col).localCheckpoint(eager=False)
    return _pq_lloyd(sub, corpus, id_col, k, n_iters)


def _pq_subs(
    corpus: DataFrame, m: int, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, sub, sv): each l2-normalized vector split into its ``m``
    subvectors."""
    v = unit_vec(vec_col)
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(_subvectors(v, m, dim // m)).alias("sub", "sv"),
    )


def _pq_lloyd(
    sub: DataFrame, corpus: DataFrame, id_col: str, k: int, n_iters: int
) -> DataFrame:
    """The PQ trainer: per-subspace L2 Lloyd over a (vec_id, sub, sv)
    frame — the raw subvectors (``pq_train``) or the residual ones
    (``ivfpq_residual_topk``). Init is deterministic (the ``k`` smallest
    corpus ids seed every subspace, code_id = 1-based rank), assignment
    breaks ties to the smallest code_id, the L2 fold order is pinned,
    and the rounds run under the shared :func:`_lloyd` cadence — each
    round references the previous codebook once (the ``_pq_assign``
    broadcast agg)."""
    seeds = (
        corpus.select(F.col(id_col).alias("vec_id"))
        .orderBy("vec_id")
        .limit(k)
        .select("vec_id", F.row_number().over(Window.orderBy("vec_id")).alias("code_id"))
    )
    cents = sub.join(F.broadcast(seeds), "vec_id").select(
        "sub", "code_id", F.col("sv").alias("code_vec")
    )
    return _lloyd(
        cents,
        n_iters,
        lambda prev: _grouped_mean(
            _pq_assign(sub, prev), ["sub", "code_id"], "sv", "code_vec"
        ),
        False,
    )


def _codebook_row(codebooks: DataFrame) -> DataFrame:
    """The m×k codebook as ONE broadcast row: ``_cb``, an array of
    (sub, code_id, code_vec) structs."""
    return F.broadcast(
        codebooks.agg(
            F.collect_list(F.struct("sub", "code_id", "code_vec")).alias("_cb")
        )
    )


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every (vec_id, sub, sv) row to its min-L2 code in ITS
    subspace — map-only: the m×k codebook collapses to one broadcast
    array; the per-row argmin filters it by subspace inside the lambda
    (ties to the smallest code_id via struct min on (d2, code_id))."""
    best = F.array_min(
        F.transform(
            F.filter(F.col("_cb"), lambda c: c.getField("sub") == F.col("sub")),
            lambda c: F.struct(
                _l2sq(F.col("sv"), c.getField("code_vec")).alias("d2"),
                c.getField("code_id").alias("code_id"),
            ),
        )
    )
    return (
        sub.join(_codebook_row(cents))
        .withColumn("_b", best)
        .select("vec_id", "sub", "sv", F.col("_b.code_id").alias("code_id"))
    )


def _pq_codes(sub: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, codes): each vector's m-array of nearest code ids,
    ordered by subspace. One shuffle on vec_id to reassemble."""
    return (
        _pq_assign(sub, codebooks)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code_id"))),
                lambda s: s.getField("code_id"),
            ).alias("codes")
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its m-array of nearest code ids — the
    compressed representation PQ exists for: m bytes a vector (vs
    8·dim for raw doubles; 64× here), which is what makes a 100 TB
    embedding corpus searchable from memory. Narrow: subvector split,
    broadcast-codebook argmin per subspace, collect back to an array
    ordered by subspace. One shuffle on vec_id to reassemble."""
    return _pq_codes(_pq_subs(corpus, m, dim, id_col, vec_col), codebooks)


def _pq_queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv): the l2-normalized query side of every PQ search."""
    return queries.select(
        F.col(id_col).alias("query_id"),
        unit_vec(vec_col).alias("qv"),
    )


def _with_lut(
    frame: DataFrame,
    codebooks: DataFrame,
    qv_col: str,
    m: int,
    k_codes: int,
    dim: int,
    *keep: str,
) -> DataFrame:
    """``keep`` columns of ``frame`` plus its lookup table ``lut``:
    LUT[sub][code-1] = l2sq(subvector ``sub`` of ``qv_col``, that code's
    vector), an ``m × k_codes`` nested array folded from the broadcast
    codebook structs in (sub asc, code_id asc) order."""
    dsub = dim // m
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.lit(k_codes)),
            lambda c: F.aggregate(
                F.filter(
                    F.col("_cb"),
                    lambda e: (e.getField("sub") == s) & (e.getField("code_id") == c),
                ),
                F.lit(0.0),
                lambda acc, e: acc
                + _l2sq(F.slice(F.col(qv_col), s * dsub + 1, dsub), e.getField("code_vec")),
            ),
        ),
    )
    return frame.join(_codebook_row(codebooks)).select(*keep, lut.alias("lut"))


def _pq_rank(cand: DataFrame, k: int) -> DataFrame:
    """The lookup-table scan of every PQ search: a (query_id, lut,
    vec_id, codes) candidate's distance is the SUM OF m TABLE LOOKUPS
    (``element_at`` of each subspace's row at its code), and each query
    keeps its ``k`` nearest, ties on vec_id. Returns (query_id,
    neighbor_id, pq_dist, rank)."""
    scored = cand.filter(F.col("query_id") != F.col("vec_id")).withColumn(
        "pq_dist",
        F.aggregate(
            F.zip_with(
                F.col("lut"),
                F.col("codes"),
                lambda row, code: F.element_at(row, code.cast("int")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("pq_dist").asc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "pq_dist", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    n_iters: int = 2,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: corpus vectors are replaced by
    their m-byte codes; each query precomputes an m×k_codes lookup table
    of exact subvector-to-code distances, and a candidate's approximate
    distance is the SUM OF m TABLE LOOKUPS — no floating arithmetic per
    corpus vector beyond m adds, the property that makes PQ scan
    billions of codes per node. Returns (query_id, neighbor_id, pq_dist,
    rank), rank ascending by distance then neighbor id.

    Scale shape: codes and LUTs are built once (broadcast codebooks);
    the scan is a broadcast of the query LUT frame against the code
    corpus — the same broadcast-small-side shape as ``brute_force_topk``
    but over 64×-compressed rows; drop-in behind an IVF probe for
    IVF-PQ. ``codebooks`` shares a pre-trained frame (train once, like
    ``d4_select`` shares k-means)."""
    cb = codebooks if codebooks is not None else pq_train(
        corpus, m, k_codes, n_iters, dim, id_col, vec_col
    )
    codes = pq_encode(corpus, cb, m, dim, id_col, vec_col)
    q = _pq_queries(queries, id_col, vec_col)
    q_lut = _with_lut(q, cb, "qv", m, k_codes, dim, "query_id")
    return _pq_rank(F.broadcast(q_lut).crossJoin(codes), k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    coarse_iters: int = 2,
    m: int = 8,
    k_codes: int = 16,
    pq_iters: int = 2,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search — the standard billion-scale ANN layout (Jégou et
    al. 2011 §IV; FAISS ``IVFx,PQy``): a coarse spherical-k-means
    quantizer routes each query to its ``n_probe`` nearest cells, and
    within probed cells candidates are scored from their m-byte PQ codes
    via the per-query lookup table — so the scan touches
    |corpus|·n_probe/n_centroids candidates at m adds each, over data
    64× smaller than raw vectors. This is the NON-RESIDUAL variant
    (codes encode the vectors themselves, one codebook corpus-wide):
    simpler, one shared LUT per query; classic FAISS IVFPQ encodes
    per-cell residuals for tighter quantization — the documented next
    fidelity step, same plan shape with a per-(query, cell) LUT.

    Plan shape: coarse training + assignment (the IVF index builder,
    :func:`build_ivf_index_frames`) and PQ training + encoding are the
    existing shared-machinery paths (broadcast centroid/codebook
    tables, map-only argmax/argmin); the probe table is |Q|·n_probe rows
    (broadcast); the candidate join shuffles on centroid_id exactly like
    ``ivf_topk`` but carries codes, not vectors. Returns (query_id,
    neighbor_id, pq_dist, rank). ``coarse_centroids`` / ``codebooks``
    share pre-trained tables (train once, reuse — both trainings are
    the only corpus-wide iterative costs here).
    """
    coarse, assigned = build_ivf_index_frames(
        corpus, n_centroids, coarse_iters, id_col, vec_col, coarse_centroids
    )
    cb = (
        codebooks
        if codebooks is not None
        else pq_train(corpus, m, k_codes, pq_iters, dim, id_col, vec_col)
    )
    codes = pq_encode(corpus, cb, m, dim, id_col, vec_col).join(
        assigned.select(F.col("corpus_id").alias("vec_id"), "centroid_id"), "vec_id"
    )
    q = _pq_queries(queries, id_col, vec_col)
    q_lut = _with_lut(q, cb, "qv", m, k_codes, dim, "query_id")
    probes = _probe(q, coarse, n_probe).select("query_id", "centroid_id")
    return _pq_rank(
        F.broadcast(probes.join(q_lut, "query_id")).join(codes, "centroid_id"), k
    )


def _residual_subs(
    corpus: DataFrame,
    coarse: DataFrame,
    m: int,
    dsub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, centroid_id, sub, sv): per-vector RESIDUAL subvectors —
    normalized vector minus its cell's MEAN, split into m pieces.
    Assignment (routing) maximizes cosine against the normalized
    ``centroid_vec``; the subtraction uses ``centroid_mean`` — the
    variance-minimizing reconstruction centroid (see the
    ``spherical_kmeans`` keep_means note: subtracting the re-normalized
    direction instead measurably inflates residual energy above the raw
    vectors). The map-only coarse argmax is the broadcast centroid
    scorer carrying each centroid's mean; the subtraction and split are
    narrow."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        unit_vec(vec_col).alias("nv"),
    )
    scored, scores = _centroid_scores(base, coarse, "nv", "centroid_mean")
    resid = scored.withColumn("_b", F.array_max(scores)).select(
        "vec_id",
        (-F.col("_b.neg_id")).alias("centroid_id"),
        F.zip_with(
            F.col("nv"), F.col("_b.centroid_mean"), lambda x, y: x - y
        ).alias("rv"),
    )
    return resid.select(
        "vec_id",
        "centroid_id",
        F.posexplode(_subvectors(F.col("rv"), m, dsub)).alias("sub", "sv"),
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    coarse_iters: int = 2,
    m: int = 8,
    k_codes: int = 16,
    pq_iters: int = 2,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_centroids: DataFrame | None = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ — the faithful FAISS ``IVFx,PQy`` layout: PQ
    codebooks are trained on, and codes encode, the residual between
    each (normalized) vector and its cell's MEAN (``centroid_mean`` —
    the reconstruction centroid). Routing stays on the normalized
    ``centroid_vec`` (cosine); the subtraction must NOT: the mean is the
    within-cell variance minimizer, and an earlier revision that
    subtracted the re-projected (unit-norm) centroid instead measurably
    inflated residual energy ABOVE the raw vectors (reconstruction MSE
    0.83 vs raw PQ's 0.61 at sf0.1 defaults; recall@10 0.100 vs raw
    0.194 — found by scripts/measure_recall.py, which is why that script
    exists). With mean residuals the concentration argument holds again:
    same code budget, tighter quantization. The price is a
    PER-(QUERY, PROBED-CELL) lookup table — the query's residual against
    THAT cell's mean — instead of one LUT per query: |Q|·n_probe LUTs,
    still a broadcast-scale frame.

    Everything else matches ``ivfpq_topk``: coarse training/probing on
    cosine, per-subspace L2 Lloyd training in one grouped job, candidate
    scan = m LUT adds per m-byte code. Returns (query_id, neighbor_id,
    pq_dist, rank); distances are exact squared-L2 between the query's
    residual and the candidate's QUANTIZED residual within the shared
    cell geometry.
    """
    dsub = dim // m
    # a shared coarse table must carry centroid_mean (keep_means=True
    # training) — residual encoding subtracts the MEAN, not the
    # re-projected direction (see below). The residual argmax never
    # takes the Arrow route, so a supplied table is not counted.
    coarse = (
        coarse_centroids.select("centroid_id", "centroid_vec", "centroid_mean")
        if coarse_centroids is not None
        else spherical_kmeans(
            corpus, n_centroids, coarse_iters, id_col, vec_col, keep_means=True
        )
    )
    rsub = _residual_subs(corpus, coarse, m, dsub, id_col, vec_col).localCheckpoint(
        eager=False
    )
    # PQ training on residual subvectors: pq_train's trainer, over the
    # residual frame
    sub = rsub.select("vec_id", "sub", "sv")
    cents = _pq_lloyd(sub, corpus, id_col, k_codes, pq_iters)
    codes = _pq_codes(sub, cents).join(
        rsub.select("vec_id", "centroid_id").distinct(), "vec_id"
    )
    # per-(query, cell) LUT over the query residual against that cell's
    # MEAN (the reconstruction centroid — must match _residual_subs)
    probes = _probe(_pq_queries(queries, id_col, vec_col), coarse, n_probe, "centroid_mean")
    probe_lut = _with_lut(
        probes.withColumn(
            "_qr", F.zip_with(F.col("qv"), F.col("centroid_mean"), lambda x, y: x - y)
        ),
        cents,
        "_qr",
        m,
        k_codes,
        dim,
        "query_id",
        "centroid_id",
    )
    return _pq_rank(F.broadcast(probe_lut).join(codes, "centroid_id"), k)


def exact_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of an ANN candidate frame — the second half
    of the standard retrieve-then-rerank pattern (Jégou et al. 2011
    §V.C): a compressed-domain scan (PQ/IVF-PQ) supplies R candidates
    per query for RECALL, then the exact distance restores ranking
    fidelity over just those R, so recall@k approaches the candidate
    stage's recall@R at the cost of |Q|·R exact distances — independent
    of corpus size.

    Plan shape: the candidate (query_id, neighbor_id) frame is
    |Q|·R rows — broadcast — so fetching candidate vectors is a
    map-side join over the corpus scan, never a corpus shuffle; query
    vectors broadcast likewise; the rank window partitions per query.
    Returns (query_id, neighbor_id, cosine_sim, rank), rank ≤ k, ties
    on neighbor_id.
    """
    cand = F.broadcast(candidates.select("query_id", "neighbor_id").distinct())
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        unit_vec(vec_col).alias("cv"),
    ).withColumn("_cn", F.expr(norm("cv")))
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            unit_vec(vec_col).alias("qv"),
        ).withColumn("_qn", F.expr(norm("qv")))
    )
    scored = (
        cv.join(cand, "neighbor_id")
        .join(qv, "query_id")
        .withColumn(
            "cosine_sim",
            F.expr(cosine_pre("qv", "cv", "_qn", "_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    rerank_r: int = 50,
    k: int = 10,
    **ivfpq_kwargs,
) -> DataFrame:
    """IVF-PQ retrieve (top ``rerank_r`` by compressed distance) →
    exact-cosine re-rank to top ``k``. Turns the PQ scan's noisy
    compressed ranking into near-candidate-ceiling recall (measured in
    PERF.md) while the exact stage touches only |Q|·R vectors."""
    cands = ivfpq_topk(corpus, queries, k=rerank_r, **ivfpq_kwargs)
    id_col = ivfpq_kwargs.get("id_col", "vec_id")
    vec_col = ivfpq_kwargs.get("vec_col", "embedding")
    return exact_rerank(cands, corpus, queries, k=k, id_col=id_col, vec_col=vec_col)


def embedding_outliers(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space outlier screen: assign every vector to its
    nearest centroid and flag rows whose centroid similarity is a
    z-score outlier WITHIN their cluster — the off-manifold-junk sweep
    (OCR garbage, binary-in-text, wrong-modality rows) a curation
    pipeline runs on embeddings before semantic dedup trusts them
    (distance-to-prototype screening is the SemDeDup/D4 companion
    check; cf. Abbas et al. 2023).

    Composition, not new machinery: the ``_assign_to_centroids`` broadcast
    argmax (shared with SemDeDup/D4/IVF — pass ``centroids`` to reuse a
    trained quantizer; default is the deterministic first-n sample) +
    ``zscore_outliers`` on the winning cosine grouped by cluster (one
    combinable stats aggregation, broadcast back — never a fact-table
    window). Low-similarity outliers are the junk candidates; the
    z-score (not a global sim floor) keeps tight and loose clusters on
    the same footing.

    Returns (id, centroid_id, centroid_sim, z, is_outlier). Degenerate
    clusters follow the ``zscore_outliers`` contract: 1-row or
    zero-dispersion clusters flag nothing.
    """
    from token_etl_spark.operators.profile import zscore_outliers

    cents, n_rows = _quantizer(
        centroids,
        n_centroids,
        lambda: _sample_centroids(corpus, n_centroids, id_col, vec_col),
    )
    # no checkpoint (unlike SemDeDup): the untrained sample is not
    # materialized, so a lazy localCheckpoint would run an AQE query
    # stage at plan build, and the one consumer re-reads nothing
    assigned = _assign_to_centroids(
        _id_vectors(corpus, id_col, vec_col), cents, "v", True, n_rows
    )
    return zscore_outliers(
        assigned.select("id", "centroid_id", "centroid_sim"),
        "centroid_sim",
        ["centroid_id"],
        threshold=threshold,
    )


def source_centroid_similarity(
    labeled: DataFrame, label_col: str = "source", vec_col: str = "v"
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids —
    the source-redundancy report a mixture designer reads before
    weighting corpora (two sources whose centroids nearly coincide are
    semantic near-duplicates at the COLLECTION level; cf. the cluster
    diagnostics in SemDeDup, Abbas 2023 §4). Input: one (label, vector)
    row per document.

    Output: ``source_a < source_b`` pairs with ``cosine_sim`` of their
    mean vectors.

    100 TB shape: the only corpus-sized work is the (label, dim) mean —
    posexplode + ONE combinable avg aggregation (shuffle carries
    |labels| × dim rows). Each centroid's norm is computed ONCE per
    label over its own full dim set — never inside the pair join, so a
    label whose vectors carry extra dimensions (mixed embedding
    versions) keeps that mass in its norm instead of having it silently
    dropped by the dim equi-join; dims absent from one side contribute
    exactly 0 to the dot product (no joined row), which is the correct
    zero-fill semantics. The pairwise stage then runs on the centroid
    frame alone: a dim-keyed self-equi-join of |labels| × dim rows, a
    (label_a, label_b) dot rollup, and two |labels|-row norm joins —
    never a per-document pair. Per-dim mean accumulation order differs
    across engines (the k-means oracle's declared float caveat);
    downstream consumers compare at rounded precision.
    """
    dims = labeled.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("dim", "x")
    )
    cent = dims.groupBy("label", "dim").agg(F.avg("x").alias("m"))
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("norm")
    )
    a = cent.select(F.col("label").alias("source_a"), "dim", F.col("m").alias("ma"))
    b = cent.select(F.col("label").alias("source_b"), "dim", F.col("m").alias("mb"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("_dot"))
    )
    na = norms.select(F.col("label").alias("source_a"), F.col("norm").alias("_na"))
    nb = norms.select(F.col("label").alias("source_b"), F.col("norm").alias("_nb"))
    # a zero-norm centroid (vectors cancelling to zero) has no direction:
    # its cosine is NULL by declaration — an unguarded divide would be
    # Inf on DuckDB and an ANSI DIVIDE_BY_ZERO crash on Spark
    # (hypothesis-found edge, tests/test_properties.py)
    denom = F.col("_na") * F.col("_nb")
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.when(denom > 0, F.col("_dot") / denom).alias("cosine_sim"),
        )
    )


def projection_signs(
    dim: int, k: int, seed: str = "rp0", s: int = 3
) -> list[list[float]]:
    """Deterministic Achlioptas (2003) sparse random-projection sign
    matrix: entry (i, j) is +1 with probability 1/(2s), -1 with
    probability 1/(2s), 0 otherwise (s = 3 → two thirds of the matrix
    is exactly zero). "Random" is md5 of ``f"{seed}:{i}:{j}"`` — the
    same content-hash determinism every sampling operator here uses
    (task retries and re-runs see the identical matrix, and a DuckDB
    oracle can re-derive every entry from the same md5 arithmetic:
    first 6 hex chars as an integer, mod 2s; 0 → +1, 1 → -1).

    Returned row-major as k rows of dim floats (row j = output
    dimension j). Each output row is asserted non-degenerate (at least
    one nonzero entry — P(all-zero row) = (1-1/s)^dim, ~5e-12 at
    dim=64/s=3, but a silent all-zero output dimension would be a
    correctness bug, not noise)."""
    import hashlib

    rows: list[list[float]] = []
    for j in range(k):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:6], 16) % (
                2 * s
            )
            row.append(1.0 if h == 0 else (-1.0 if h == 1 else 0.0))
        if not any(row):
            raise ValueError(
                f"degenerate projection row j={j} (all zeros) for "
                f"seed={seed!r} dim={dim} s={s}; pick another seed"
            )
        rows.append(row)
    return rows


def random_projection(
    df: DataFrame,
    dim: int,
    k: int = 16,
    vec_col: str = "embedding",
    out_col: str = "proj",
    seed: str = "rp0",
    s: int = 3,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction via the sparse
    Achlioptas matrix: ``proj[j] = sqrt(s/k) * Σ_i vec[i]·R[i][j]``.
    THE pre-ANN primitive at 100 TB — projecting 1536-dim embeddings to
    64 dims cuts every downstream shuffle, index, and distance scan by
    24× while preserving pairwise distances within the JL distortion
    bound (ε ≈ sqrt(8·ln n / k)); the LSH/IVF/PQ family here runs
    unchanged on the projected column.

    Plan shape: map-only, zero shuffle. The k×dim matrix is built
    driver-side (tiny — 128×1536 floats is 1.5 MB) and enters the plan
    as array literals; each output component is one JVM-side
    ``zip_with``/``aggregate`` fold, so per-row cost is the honest
    k·dim multiply-adds inside whole-stage codegen and codegen size
    grows O(k), not O(k·dim). Rows whose vector is shorter than ``dim``
    project to NULL components (zip_with null-padding) — degrade, never
    crash, same contract as the multimodal decoders.

    Operating guidance (measured, scripts/probe_projection.py +
    PERF.md r11): use the projection as a CANDIDATE GENERATOR —
    retrieve c·k in projected space, then exact-rerank the candidates
    (:func:`exact_rerank`) — never as the final ranking. JL preserves
    DISTANCES, not rank order among near-equidistant points, so
    fidelity tracks the corpus's neighbor margins: on clustered
    (real-embedding-like) vectors a 30-candidate set covers ~91-95% of
    the true top-10 at k=16-32, while i.i.d.-random vectors (the gate
    table) are the adversarial floor. Validate candidate coverage on
    the target distribution before sizing k."""
    signs = projection_signs(dim, k, seed, s)
    scale = float(np.sqrt(s / k))
    v = F.col(vec_col).cast("array<double>")
    comps = [
        (
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(x) for x in signs[j]]), lambda x, sg: x * sg),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale)
        ).alias(f"_p{j}")
        for j in range(k)
    ]
    return df.withColumn(out_col, F.array(*comps))
