"""Training-mixture builder — the selection/packing half of corpus
prep, composing the individually-oracled curation operators into the
"give me a training mix" entry point:

    decontaminate → importance-select → per-source token budget →
    epoch upsampling → sequence packing

``pipelines/corpus.py`` answers "which documents are clean and unique";
this answers "which copies of them, in what proportions, packed into
which fixed-budget sequences". Output is a mixture MANIFEST
(doc_id, source, epoch, shard, seq_id, n_tokens, start_offset) — the
deterministic recipe a loader materializes, not the text itself.

Stage order is the 100 TB-efficient one: the joinless Bloom probe runs
first (constant-memory, drops contaminated rows before anything
explodes), DSIR scoring runs only on survivors, the budget cap shuffles
(keys, n_tokens) only, upsampling is a narrow generator, and packing is
the one unavoidable per-shard window sort. Every stage is content-hash
deterministic — task retries and re-runs reproduce the same manifest
byte-for-byte. A production pipeline persists the manifest between
stages rather than chaining lazily (the lineage here re-derives
upstream stages in the final join; at gate scale that is free, at
100 TB you checkpoint to parquet — same guidance as the DSIR fit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.operators.bloom import bloom_decontaminate
from token_etl_spark.operators.curation import (
    epoch_upsample,
    importance_weights,
    ngram_decontaminate,
    pack_sequences,
    token_budget_cap,
)


def build_mixture(
    docs: DataFrame,
    decisions: DataFrame | None = None,
    benchmark: DataFrame | None = None,
    use_bloom: bool = True,
    decon_k: int = 3,
    decon_min_overlap: int = 2,
    target_sources: tuple[str, ...] | None = None,
    select_top_pct: float | None = None,
    budget_tokens: int | None = None,
    weights: dict[str, float] | None = None,
    pack_budget: int = 2048,
    n_shards: int = 256,
    checkpoint_stages: bool = False,
) -> DataFrame:
    """documents(doc_id, source, text, ...) → mixture manifest.

    ``decisions`` composes this builder with ``prepare_corpus``: pass
    that pipeline's per-doc decision frame (doc_id, ..., keep) and only
    ``keep`` documents enter the mixture — quality gates, exact dedup,
    and near-dup clustering then run ONCE upstream instead of being
    re-derived here (at 100 TB the decision frame is persisted parquet
    between the two pipelines; the semi-join is key-only either way).

    Optional stages activate by argument: ``benchmark`` enables
    decontamination (Bloom bitmap by default — no false negatives, a
    few FP over-drops; ``use_bloom=False`` selects the exact broadcast
    scan), ``target_sources`` + ``select_top_pct`` keep each source's
    top-scoring slice under DSIR importance (ties broken on doc_id),
    ``budget_tokens`` caps every source's token quota,
    ``weights`` replicates/downsamples per source (epoch column keeps
    copies apart). Packing always runs: each (doc, epoch) copy gets a
    unique ``doc:epoch`` key so repeated epochs land in different
    sequences; the manifest recovers (doc_id, epoch, source) by joining
    back on that key — never by re-parsing it, so string doc_ids (or
    ids containing ':') survive losslessly (the key is injective
    because epoch, an integral type, is always the final segment).

    Each stage boundary that is consumed more than once is lazily
    ``persist()``ed — every selection stage's decision frame derives
    from the SAME frame the main chain continues from, so without a
    cut the lineage re-derives upstream work 2-3×
    per stage and the five-stage plan compounds to ~180 parquet scans
    (measured: Spark's ReusedExchange recovers none of it — the branch
    projections differ). A lazy persist launches no plan-build jobs
    (the repo's hygiene gate) and collapses execution to one
    materialization per stage (measured 14.9 s → 7.8 s cold / 2.5 s on
    re-run at sf0.01 for the five-stage query).
    Lifecycle: the cached blocks live until the session drops them, so
    a long-running service persists stage outputs to parquet between
    pipelines (the 100 TB guidance above).

    ``checkpoint_stages=True`` upgrades each stage cut from a lazy
    ``persist`` to an EAGER ``localCheckpoint``: the composed five-stage
    logical plan was measured to cost more in Catalyst ANALYSIS than in
    execution (ext_mixture_full: ~3 s driver gap before the first job vs
    ~0.2 s of query work at sf0.1 — plan-analysis cost grows
    superlinearly with plan depth), and a checkpoint truncates the plan
    at each stage boundary so every stage is analyzed against an
    RDD-scan root instead of the full upstream tree. Identical rows
    (a checkpoint is semantics-free); the trade is jobs AT BUILD time,
    so a declared query using it must carry the ``iterative`` tag
    (the plan-hygiene gate's exemption class — ext_mixture_full does).
    """
    if checkpoint_stages:
        cut = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    else:
        cut = lambda df: df.persist()  # noqa: E731
    out = docs
    if decisions is not None:
        keep = decisions.where(F.col("keep")).select("doc_id")
        out = out.join(keep, "doc_id", "left_semi")
    if benchmark is not None:
        decon = bloom_decontaminate if use_bloom else ngram_decontaminate
        flagged = decon(out, benchmark, k=decon_k, min_overlap=decon_min_overlap)
        out = cut(out.join(flagged.select("doc_id"), "doc_id", "left_anti"))
    if target_sources and select_top_pct is not None:
        scored = importance_weights(out, tuple(target_sources))
        w = Window.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
        wc = Window.partitionBy("source")
        sel = (
            scored.withColumn("_r", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(wc))
            .where(
                F.col("_r")
                <= F.ceil(F.col("_n") * F.lit(select_top_pct / 100.0)).cast("long")
            )
            .select("doc_id")
        )
        out = cut(out.join(sel, "doc_id", "left_semi"))
    if budget_tokens is not None:
        capped = token_budget_cap(out, budget_tokens)
        out = out.join(capped.select("doc_id"), "doc_id", "left_semi")
    if weights:
        out = epoch_upsample(out, weights)
    else:
        out = out.withColumn("epoch", F.lit(1).cast("long"))
    copies = cut(
        out.withColumn(
            "copy_id",
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
            ),
        )
    )
    packed = pack_sequences(copies, pack_budget, n_shards, id_col="copy_id")
    keymap = copies.select("copy_id", "doc_id", "epoch", "source")
    return packed.join(keymap, "copy_id").select(
        "doc_id", "source", "epoch", "shard", "seq_id", "n_tokens", "start_offset"
    )
