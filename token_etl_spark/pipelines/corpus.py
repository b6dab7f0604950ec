"""Training-data corpus preparation — the end-to-end pipeline the LLM-
data extensions exist for (BASELINE.json north star): quality-gate →
exact dedup → near-dup clustering → keep-list → token accounting.

Stage order is the 100 TB-efficient one: cheap narrow filters first
(quality gates drop rows before anything shuffles), exact dedup next
(one digest shuffle removes identical copies before the more expensive
near-dup machinery), MinHash+LSH last over the survivors only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functools import reduce

from token_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_dedup_clusters,
)
from token_etl_spark.operators.graph import connected_components, keep_list_from_components
from token_etl_spark.operators.text import line_dedup, quality_stats, token_estimate


def _fan_out(df: DataFrame) -> DataFrame:
    """Delegates to ``plans.base.fan_narrow`` keyed on ``doc_id`` so the
    scale-adaptive fan rule (and its no-op / no-job contract, pinned in
    tests/test_plan_hygiene.py) lives in ONE place — this wrapper exists
    only for the deferred import (plans → pipelines is the package's
    import direction; importing plans.base at module level here would
    cycle through plans.registry back into this module)."""
    from token_etl_spark.plans.base import fan_narrow

    return fan_narrow(df, key="doc_id")


def prepare_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    jaccard_threshold: float = 0.6,
    large_clusters: bool = True,
    dedup_lines: bool = False,
    dedup_spans: bool = False,
    span_k: int = 8,
    extract_html: bool = False,
    url_col: str | None = None,
    domain_stats_frame: DataFrame | None = None,
    domain_min_docs: int = 1,
    min_domain_quality: float | None = None,
    max_domain_dup_rate: float | None = None,
    domain_blocklist: tuple[str, ...] = (),
    domain_suffixes: DataFrame | None = None,
    repetition_filter: bool = False,
    stage_hook=None,
) -> DataFrame:
    """documents(doc_id, text, ...) → per-doc decision frame:
    (doc_id, n_tokens, est_tokens, passed_quality, is_exact_dup,
    is_near_dup, keep). ``keep`` docs form the training corpus.

    CRAWL-INGEST TIER (off by default — the gate corpus is plain
    prose), mirroring the streaming twins' declared order:

    - ``extract_html=True`` runs boilerplate-stripping extraction
      (``operators/text.extract_html_text``) FIRST: every downstream
      stage — gates, digests, shingles — keys off the extracted text,
      never the raw markup (``run_streaming_ingest``'s order).
    - ``url_col`` enables the domain-reputation gate
      (``operators/curation.domain_filter``) BEFORE any per-document
      compute: a pruned domain's documents never reach line/span
      rewriting, quality scoring, or shingling — the FineWeb/
      RefinedWeb discipline of spending nothing on a domain the gate
      rejects. ``domain_stats_frame`` supplies a precomputed
      reputation table (the streaming pattern: reputation moves
      slowly); when omitted, it is computed from this corpus
      (document counts only — the quality/dup-rate bounds then
      require the precomputed frame). ``domain_suffixes`` threads a
      public-suffix table through to the precise registered-domain
      path (ccTLD sites stop pooling). A precomputed
      ``domain_stats_frame`` must have been built with the SAME
      ``domain_suffixes`` setting — a lite-keyed frame applied under
      a suffix table matches nothing and silently drops every ccTLD
      document (the domain_filter contract).
    - ``repetition_filter=True`` applies the Gopher repetition gates
      (``operators/text.gopher_repetition_filter``) on the extracted
      text before the dedup tiers: a repetition-rejected document
      never reaches digesting or shingling either.

    Each enabled ingest gate adds its flag to the decision frame
    (``domain_kept``, ``passed_repetition``); a document dropped by an
    earlier gate carries NULL in later stages' columns (never
    evaluated) and ``keep=False``.

    The near-dup stage DEFAULTS to the star-edge cluster form (linear
    LSH output; PERF.md "Giant-cluster dedup"): cluster sizes in a raw
    corpus are unknown ahead of time, and the pair form's in-bucket
    k(k-1)/2 emission is a measured scale-killer once a boilerplate/
    template cluster gets large (OOM at 500-copy clusters in the PERF.md
    probe — exact dedup only collapses IDENTICAL copies, so near-copy
    templates still form giant clusters). ``large_clusters=False``
    selects the pair form: tighter near-dup semantics (every candidate
    pair individually Jaccard-verified), right when clusters are known
    small or as the small-scale verifier for the cluster form.

    ``dedup_lines=True`` prepends intra-document line dedup
    (``operators/text.py line_dedup``) so boilerplate repeated INSIDE a
    document is removed before any doc-level stage — quality metrics,
    digests, and shingles then see the cleaned text (the standard
    pipeline order: narrow per-row rewriting before anything shuffles).
    Off by default: the gate corpus is single-line.

    ``dedup_spans=True`` then applies the corpus-level ExactSubstr
    rewrite (``operators/dedup.py dedup_spans_rewrite``): duplicated
    ``span_k``-token windows beyond the corpus-first occurrence are cut
    BEFORE quality scoring and doc-level dedup, so boilerplate shared
    ACROSS documents (license headers, navigation chrome) stops
    inflating token counts and shingle sets downstream. This stage is
    the one pre-quality step that does shuffle (on the window
    fingerprint); it runs after line dedup (intra-doc first shrinks the
    fingerprint frame) and is off by default for the same single-line
    gate-corpus reason. Caveat: the rewrite emits tokenizer-normalized
    text (lowercased, punctuation stripped), so downstream digests see
    the normalized form — standard for corpus prep, but not a byte-
    preserving transform.

    ``stage_hook(name, frame)``, when given, is called at each tier
    boundary with the tier's output frame — the bench's per-stage
    decomposition seam (VERDICT r13 item 5): the hook may persist and
    force the frame to time the tier in isolation. None (the default,
    the production path) adds zero overhead and zero extra
    materializations.
    """
    # --- crawl-ingest tier (extraction → domain gate → repetition gate)
    ingest_cache = None
    gate_caches: list[DataFrame] = []
    if extract_html:
        # fan a narrow-split source across the session's parallelism
        # (VERDICT r13 item 4): a corpus read from few parquet splits —
        # sf0.1's documents table is ONE — would otherwise run the whole
        # staged extraction tier single-task, because nothing before the
        # dedup shuffles. One doc_id-hash repartition at the head gives
        # extraction, the gates, and quality scoring the multi-task
        # shape the 100 TB claim relies on; a NO-OP whenever the input
        # already carries enough splits (any real large-corpus read).
        # The in-pipeline fan stays extraction-gated only to avoid a
        # REDUNDANT second exchange: since r15 the plain corpus path is
        # fanned at the plan declaration instead (plans/extensions.py
        # q_corpus_prep, a measured −0.73 s win there), and fan_narrow
        # is a no-op on an input that already arrives fanned.
        docs = _fan_out(docs)
        from token_etl_spark.operators.text import extract_html_text

        docs = (
            extract_html_text(docs)
            .withColumn("text", F.col("extracted"))
            .drop(
                "n_blocks", "n_kept_blocks", "html_chars", "extracted",
                "extracted_chars",
            )
        )
        # the extraction regex chain is the most expensive projection in
        # the pipeline and every downstream branch (domain stats, both
        # gate sides, repetition's 4 scans, quality) re-reads it — stage
        # it once (review-found r12; released with the scored cache)
        docs = docs.persist()
        ingest_cache = docs
        if stage_hook is not None:
            stage_hook("extraction", docs)
    all_ids = docs.select("doc_id")
    domain_flags = None
    if url_col is not None:
        from token_etl_spark.operators.curation import domain_filter, domain_stats

        stats = domain_stats_frame
        if stats is None:
            if min_domain_quality is not None or max_domain_dup_rate is not None:
                raise ValueError(
                    "min_domain_quality / max_domain_dup_rate need a "
                    "precomputed domain_stats_frame carrying mean_quality/"
                    "dup_rate — self-derived stats have document counts only"
                )
            stats = domain_stats(docs, url_col=url_col, suffixes=domain_suffixes)
        flagged = domain_filter(
            docs,
            stats,
            url_col=url_col,
            min_docs=domain_min_docs,
            min_mean_quality=min_domain_quality,
            max_dup_rate=max_domain_dup_rate,
            blocklist=domain_blocklist,
            suffixes=domain_suffixes,
        )
        # The flagged frame feeds BOTH the downstream pipeline (filtered
        # docs) and the decision frame's domain_flags join. Without a
        # cut, the final decision job recomputes the whole domain gate
        # (stats aggregation + reputation join) a second time — measured
        # as most of the 4.3 s decision stage at sf0.1. Same pattern for
        # the repetition gate below.
        flagged = flagged.persist()
        gate_caches.append(flagged)
        domain_flags = flagged.select("doc_id", "domain", "domain_kept")
        # domain-rejected documents never reach per-document compute
        docs = flagged.where(F.col("domain_kept")).select(
            *[c for c in flagged.columns if c not in ("domain", "domain_kept")]
        )
        if stage_hook is not None:
            stage_hook("domain_gate", docs)
    repetition_flags = None
    if repetition_filter:
        from token_etl_spark.operators.text import gopher_repetition_filter_inline

        # the MAP-ONLY inline twin: the explode form joins two frames
        # both derived from ``docs`` (signals + staged prior gate), i.e.
        # one extra shuffle and a second pass over the upstream lineage;
        # gate-equivalence (keep + reject_reasons) is pinned in
        # tests/test_text.py and re-measured at sf0.001/sf0.1 — 0 diff,
        # ~0.45 s faster here and shuffle-free at scale
        rep = gopher_repetition_filter_inline(docs)
        # two consumers (flags + filtered docs) — cut like flagged above
        rep = rep.persist()
        gate_caches.append(rep)
        repetition_flags = rep.select(
            "doc_id",
            F.col("keep").alias("passed_repetition"),
            F.col("reject_reasons").alias("repetition_reasons"),
        )
        docs = rep.where(F.col("keep")).select(*docs.columns)
        if stage_hook is not None:
            stage_hook("repetition_gate", docs)

    if dedup_lines:
        docs = (
            line_dedup(docs)
            .withColumn("text", F.col("deduped"))
            .drop("n_lines", "n_unique", "deduped")
        )
    if dedup_spans:
        from token_etl_spark.operators.dedup import dedup_spans_rewrite

        rewritten = dedup_spans_rewrite(docs, k=span_k).select(
            F.col("id").alias("doc_id"), F.col("cleaned").alias("_span_text")
        )
        docs = (
            docs.join(rewritten, "doc_id")
            .withColumn("text", F.col("_span_text"))
            .drop("_span_text")
        )
    scored = quality_stats(docs).withColumn("est_tokens", token_estimate(F.col("text")))
    scored = scored.withColumn(
        "passed_quality",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("alpha_ratio") >= min_alpha_ratio),
    )
    scored.persist()
    if stage_hook is not None:
        stage_hook("quality", scored)

    quality_docs = scored.filter(F.col("passed_quality")).select("doc_id", "text")

    # exact dedup: keep min doc_id per digest. The keep-id frame feeds
    # THREE consumers (the survivor semi-join below — itself read twice:
    # near-dup input and the keep-list singleton anti-join — plus the
    # decision join), each of which would otherwise re-run the full
    # digest aggregation over the quality docs; persist the tiny id
    # frame so the digest shuffle runs once (released with the caches).
    exact = exact_dedup(quality_docs)
    exact_keep = exact.select(F.col("keep_id").alias("doc_id")).distinct().persist()
    gate_caches.append(exact_keep)
    exact_survivors = quality_docs.join(exact_keep, "doc_id", "left_semi")
    if stage_hook is not None:
        stage_hook("exact_dedup", exact_survivors)

    # near-dup clustering over exact survivors only. The decision
    # assembly below needs only the (id, component) frame — the keep
    # flag is id == component (the CC min-id contract) and singleton
    # detection falls out of the aggregation — so the explicit
    # keep-list (anti-join + union) is no longer built on the
    # production path; the staged seam still hooks it for the bench
    # decomposition's tier timing.
    if large_clusters:
        comps = minhash_dedup_clusters(exact_survivors, threshold=jaccard_threshold)
    else:
        pairs = minhash_dedup(exact_survivors, threshold=jaccard_threshold)
        # minhash_dedup pairs are distinct with id_a < id_b (LSH candidate
        # contract) — CC can skip its edge-dedup shuffle
        comps = connected_components(pairs, pairs_ordered_distinct=True)
    if stage_hook is not None:
        stage_hook(
            "near_dup",
            keep_list_from_components(comps, exact_survivors.select("doc_id")),
        )

    # Decision assembly as ONE union + aggregation (was: 2-5 left-outer
    # joins plus the keep-list's anti-join/union, each a corpus-wide
    # shuffle once the flag frames outgrow broadcast — the 100 TB
    # regime). Every contributing frame is projected onto one wide
    # null-padded schema keyed by doc_id; a single groupBy(doc_id) with
    # max() aggregates (each column has at most one non-null
    # contributor per id, so max() is exact selection, not a tie-break)
    # replaces every join, and the decision flags derive from the
    # aggregated markers:
    #   - _in_scored    → the doc reached quality scoring (row anchor
    #                     for the flag columns; ingest-gate-dropped
    #                     docs keep their NULL later-stage columns)
    #   - _exact_keep   → the doc is its content's exact-dedup rep
    #   - _comp_keep    → CC membership + its keep flag; a quality doc
    #                     in exact_keep but no component is the former
    #                     keep-list singleton (keep=True), derived
    #                     without the anti-join.
    # Results are bit-identical to the join form (pinned in
    # tests/test_corpus.py and the oracle sweep).
    sch = dict(scored.dtypes)
    ty_domain = dict(domain_flags.dtypes)["domain"] if domain_flags is not None else "string"
    ty_reasons = (
        dict(repetition_flags.dtypes)["repetition_reasons"]
        if repetition_flags is not None
        else "array<string>"
    )
    _WIDE = (
        ("n_tokens", sch["n_tokens"]),
        ("est_tokens", sch["est_tokens"]),
        ("passed_quality", "boolean"),
        ("_in_scored", "boolean"),
        ("_exact_keep", "boolean"),
        ("_comp_keep", "boolean"),
        ("domain", ty_domain),
        ("domain_kept", "boolean"),
        ("passed_repetition", "boolean"),
        ("repetition_reasons", ty_reasons),
    )

    def wide(doc_id, **given):
        cols = [doc_id.alias("doc_id")]
        for name, dtype in _WIDE:
            c = given.get(name)
            cols.append((c if c is not None else F.lit(None).cast(dtype)).alias(name))
        return cols

    parts = [
        scored.select(*wide(
            F.col("doc_id"),
            n_tokens=F.col("n_tokens"),
            est_tokens=F.col("est_tokens"),
            passed_quality=F.col("passed_quality"),
            _in_scored=F.lit(True),
        )),
        exact_keep.select(*wide(F.col("doc_id"), _exact_keep=F.lit(True))),
        comps.select(*wide(
            F.col("id"), _comp_keep=(F.col("id") == F.col("component"))
        )),
    ]
    if domain_flags is not None or repetition_flags is not None:
        # anchor on the full id set: ingest-gate-dropped documents still
        # get a decision row (keep=False, later-stage columns NULL —
        # never evaluated), so the frame stays an accounting of EVERY
        # input document
        parts.append(all_ids.select(*wide(F.col("doc_id"))))
        if domain_flags is not None:
            parts.append(domain_flags.select(*wide(
                F.col("doc_id"),
                domain=F.col("domain"),
                domain_kept=F.col("domain_kept"),
            )))
        if repetition_flags is not None:
            parts.append(repetition_flags.select(*wide(
                F.col("doc_id"),
                passed_repetition=F.col("passed_repetition"),
                repetition_reasons=F.col("repetition_reasons"),
            )))
    g = reduce(DataFrame.unionByName, parts).groupBy("doc_id").agg(
        *[F.max(name).alias(name) for name, _ in _WIDE]
    )
    survivor = F.col("passed_quality") & F.col("_exact_keep").isNotNull()
    near_keep = F.when(
        F.col("_comp_keep").isNotNull(), F.col("_comp_keep")
    ).otherwise(F.when(survivor, F.lit(True)))
    base_keep = survivor & F.coalesce(near_keep, F.lit(True))
    in_scored = F.col("_in_scored")
    g = (
        g.withColumn(
            "is_exact_dup",
            F.when(in_scored, F.col("passed_quality") & F.col("_exact_keep").isNull()),
        )
        .withColumn(
            "is_near_dup", F.when(in_scored, F.coalesce(~near_keep, F.lit(False)))
        )
        .withColumn("_base_keep", F.when(in_scored, base_keep))
    )
    base_cols = ["doc_id", "n_tokens", "est_tokens", "passed_quality",
                 "is_exact_dup", "is_near_dup"]
    if domain_flags is not None or repetition_flags is not None:
        keep = F.coalesce(F.col("_base_keep"), F.lit(False))
        if domain_flags is not None:
            keep = keep & F.coalesce(F.col("domain_kept"), F.lit(False))
        out_cols = base_cols + [keep.alias("keep")]
        if domain_flags is not None:
            out_cols += ["domain", "domain_kept"]
        if repetition_flags is not None:
            out_cols += ["passed_repetition", "repetition_reasons"]
        decisions = g.select(*out_cols)
    else:
        decisions = g.select(*base_cols, F.col("_base_keep").alias("keep"))
    if stage_hook is not None:
        stage_hook("decision", decisions)
    # Eager cut-point so the quality-stats cache can be released before
    # the result escapes (a lazy return would leak the persisted blocks
    # forever — same lifecycle bug fixed in minhash_dedup). The pipeline
    # already runs jobs here regardless: the near-dup stage's connected
    # components iterate to a fixpoint.
    decisions = decisions.localCheckpoint(eager=True)
    scored.unpersist()
    for cached in gate_caches:
        cached.unpersist()
    if ingest_cache is not None:
        ingest_cache.unpersist()
    return decisions


def corpus_summary(decisions: DataFrame) -> DataFrame:
    """One-row accounting: docs in/kept, tokens in/kept, drop reasons."""
    return decisions.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
        F.sum((~F.col("passed_quality")).cast("int")).cast("long").alias("n_quality_dropped"),
        F.sum(F.col("is_exact_dup").cast("int")).cast("long").alias("n_exact_dups"),
        F.sum(F.col("is_near_dup").cast("int")).cast("long").alias("n_near_dups"),
        F.sum("est_tokens").alias("total_est_tokens"),
        F.sum(F.when(F.col("keep"), F.col("est_tokens")).otherwise(F.lit(0))).alias(
            "kept_est_tokens"
        ),
    )
