"""Distributed linear-probe training over embeddings — the
quality-classifier-head primitive of a training-data pipeline.

Corpus curation routinely trains a cheap linear scorer on labeled
embeddings and sweeps it over the full corpus (the GPT-3/CCNet
"quality classifier" pattern — Brown et al. 2020 §A / Wenzek et al.
2020 train logistic/fastText heads to rank crawl against a curated
reference; a linear probe on frozen embeddings is the same primitive,
Alain & Bengio 2017, arXiv:1610.01644). This module trains that head
INSIDE the engine as full-batch gradient descent on squared loss —
every step is declarative DataFrame algebra, so the whole training run
is replayable by the DuckDB oracle with one unrolled CTE block per
iteration (the ``_kmeans_cte_members`` discipline).

Squared loss, not logistic: the gradient is +/-/* arithmetic only.
``exp``/``ln`` are correctly-rounded in NEITHER engine and an oracle
cannot replay them bit-for-bit (the same reason the HLL estimator ships
a Python-literal ln table); a least-squares probe ranks and separates
the same linear signal, which is what corpus sweeps use the score for.

100 TB shape per step: ONE pass over the corpus — the weight row rides
in as a broadcast 1-row frame, the per-dim gradient is a posexplode →
groupBy(dim) aggregation (dim × 1 rows out, map-side combinable — the
``lloyd_refine`` shape), and the weight update is 1-row arithmetic.
State between steps is the (dim+1)-value weight row, eagerly
checkpointed so the plan stays flat across iterations. Nothing is ever
collected to the driver; the row count enters the update as a broadcast
1-row aggregate, not a ``.count()``.

Declared float caveat (same as the k-means oracle): the per-dim
gradient sums accumulate in engine-internal order; exactness across
engines is guarded empirically by the three-SF sweep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from token_etl_spark.operators.similarity import dot, unit_vec


def _probe_base(
    corpus: DataFrame,
    target_label: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """(id, x = l2-normalized vector, label, y = 1.0 iff label ==
    target) — narrow projection, lazily checkpointed to keep the
    per-iteration lineage from re-deriving it; the label rides along so
    the score sweep never needs a join back to the corpus."""
    return (
        corpus.select(
            F.col(id_col).alias("id"),
            unit_vec(vec_col).alias("x"),
            F.col(label_col).cast("long").alias("label"),
            (F.col(label_col) == F.lit(target_label)).cast("double").alias("y"),
        )
        .localCheckpoint(eager=False)
    )


def linear_probe_train(
    corpus: DataFrame,
    target_label: int = 0,
    n_iters: int = 3,
    lr: float = 0.5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    base: DataFrame | None = None,
) -> DataFrame:
    """Train the one-vs-rest linear probe ``score(x) = w·x + b`` for
    ``target_label`` by ``n_iters`` full-batch gradient steps on squared
    loss from a zero init. Returns a 1-row (w array<double>, b double)
    model frame. Deterministic: zero init, fixed step count, pinned
    update expression order (w[d] − lr·2·g[d]/n, left-associative) —
    the oracle unrolls the identical arithmetic per iteration."""
    spark = corpus.sparkSession
    b = base if base is not None else _probe_base(
        corpus, target_label, id_col, vec_col, label_col
    )
    nf = b.agg(F.count("*").cast("double").alias("n"))
    wf = spark.range(1).select(
        F.array(*[F.lit(0.0) for _ in range(dim)]).alias("w"),
        F.lit(0.0).alias("b"),
    )
    step = F.lit(float(lr)) * F.lit(2.0)
    for _ in range(n_iters):
        joined = b.crossJoin(F.broadcast(wf)).withColumn(
            "err", F.expr(dot("w", "x")) + F.col("b") - F.col("y")
        )
        g = (
            joined.select("err", F.posexplode("x").alias("pos", "xv"))
            .groupBy("pos")
            .agg(
                F.sum(F.col("err") * F.col("xv")).alias("gw"),
                F.sum("err").alias("se"),
            )
        )
        ga = g.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "gw"))),
                lambda s: s.getField("gw"),
            ).alias("gwl"),
            F.max(F.when(F.col("pos") == 0, F.col("se"))).alias("ges"),
        )
        wf = (
            wf.crossJoin(F.broadcast(ga))
            .crossJoin(F.broadcast(nf))
            .select(
                F.zip_with(
                    "w", "gwl", lambda wi, gi: wi - step * gi / F.col("n")
                ).alias("w"),
                (F.col("b") - step * F.col("ges") / F.col("n")).alias("b"),
            )
            .localCheckpoint(eager=True)
        )
    return wf


def linear_probe_score(
    corpus: DataFrame,
    model: DataFrame,
    target_label: int = 0,
    threshold: float | None = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    base: DataFrame | None = None,
) -> DataFrame:
    """Sweep the trained probe over the corpus: (id, label, y, score,
    pred) — ``score = w·x + b`` on the normalized vector, ``pred`` the
    thresholded decision. ``threshold=None`` thresholds at the corpus
    MEAN score (attached as a broadcast 1-row aggregate — corpus sweeps
    usually keep a top fraction rather than an absolute cut, and a
    fixed 0.5 is meaningless for a squared-loss score whose scale is
    the base rate). Map-only otherwise: the model is a broadcast 1-row
    frame, so at 100 TB this is the classic classifier sweep — one
    narrow pass, no shuffle beyond the optional mean."""
    b = base if base is not None else _probe_base(
        corpus, target_label, id_col, vec_col, label_col
    )
    scored = b.crossJoin(F.broadcast(model)).withColumn(
        "score", F.expr(dot("w", "x")) + F.col("b")
    )
    if threshold is None:
        cut = F.broadcast(scored.agg(F.avg("score").alias("_cut")))
        scored = scored.crossJoin(cut)
        pred = F.col("score") > F.col("_cut")
    else:
        pred = F.col("score") >= F.lit(float(threshold))
    return scored.select("id", "label", "y", "score", pred.alias("pred"))


def linear_probe(
    corpus: DataFrame,
    target_label: int = 0,
    n_iters: int = 3,
    lr: float = 0.5,
    dim: int = 64,
    threshold: float | None = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Train + sweep in one call (shared normalized base frame)."""
    base = _probe_base(corpus, target_label, id_col, vec_col, label_col)
    model = linear_probe_train(
        corpus, target_label, n_iters, lr, dim, id_col, vec_col, label_col, base=base
    )
    return linear_probe_score(
        corpus, model, target_label, threshold, id_col, vec_col, label_col, base=base
    )
