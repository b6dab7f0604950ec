"""Streaming curation — ingest-time filtering for a training-data
pipeline, applied to a document stream before it lands in the corpus.

A stateless batch operator (``pii_scan``, ``url_canonicalize``,
``normalize_text``, ``extract_html_text``,
``gopher_repetition_filter_inline``, ``domain_filter``,
``histogram_counts``) is its own streaming twin: its expression tree
applies to a stream verbatim, so stream and batch agree row-for-row
(tested against the batch op). This module holds only the twins that
need more than that:

- ``streaming_decontaminate``: stream-static join against the *static*
  benchmark shingle set, collapsed to one broadcast array. Stateless —
  no watermark or state store — which is exactly why decontamination
  belongs at ingest: the eval set is fixed, the stream is infinite.
- sketches reshaped before aggregation (HLL, count-min), the
  fit-offline / score-at-ingest scorers, and the ``run_streaming_*``
  runners, whose per-batch state (KMV, novelty grams, snapshot diff,
  URL keep-best, shard router, ingest and domain gates) drains through
  ``streaming/dedup._drain``.

No counterpart exists in the reference (SURVEY §2.9 — batch only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from token_etl_spark.operators.dedup import shingle_array_expr, shingles
from token_etl_spark.operators.text import tokens
from token_etl_spark.streaming.dedup import (
    _drain,
    _lineage_keys,
    _read_partitioned_state,
    _write_batch_partition,
)


def streaming_line_cleanup(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Ingest-time line hygiene on a document stream: C4-style line
    filtering (``line_filter``) then intra-document line dedup
    (``line_dedup``) applied SEQUENTIALLY — dedup runs on line_filter's
    ``cleaned`` output, so ``deduped`` holds the filtered-then-deduped
    text (a consumer reading ``deduped`` gets both hygiene stages, not
    just one). Both are stateless narrow projections — the batch
    expression trees apply verbatim, so stream and batch provably agree
    row-for-row (tested). Line-level cleanup belongs at ingest for the
    same reason PII redaction does: it is per-row, needs no state, and
    shrinks every byte that flows downstream."""
    from token_etl_spark.operators.text import line_dedup, line_filter

    return line_dedup(line_filter(stream, text_col=text_col), text_col="cleaned")


def benchmark_shingle_set(
    benchmark: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct shingle set of the static benchmark side: one
    ``(shingle)`` row each, ready to collapse + broadcast."""
    return shingles(benchmark, text_col=text_col, id_col=id_col, k=k).select(
        "shingle"
    ).distinct()


def streaming_decontaminate(
    stream: DataFrame,
    bench_shingles: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "drop",
) -> DataFrame:
    """Drop (``mode='drop'``) or flag (``mode='flag'``) stream documents
    sharing any k-shingle with the benchmark set.

    The stream side computes its shingle array NARROWLY (tokens
    materialized once, no explode → no shuffle, no state); contamination
    is ``arrays_overlap`` against the benchmark set collapsed to a
    single broadcast array — one stateless projection per micro-batch.
    An eval suite's distinct shingles are MBs, well under broadcast
    limits; for a pathologically large benchmark fall back to the batch
    ``ngram_decontaminate`` per micro-batch via ``foreachBatch``.
    """
    bench_arr = bench_shingles.agg(F.collect_set("shingle").alias("_bench"))
    base = stream.withColumn("_toks", tokens(text_col)).withColumn(
        "_sh", shingle_array_expr(F.col("_toks"), k)
    )
    flagged = (
        base.crossJoin(F.broadcast(bench_arr))
        .withColumn(
            "contaminated",
            F.coalesce(F.arrays_overlap("_sh", "_bench"), F.lit(False)),
        )
        .drop("_toks", "_sh", "_bench")
    )
    if mode == "drop":
        return flagged.where(~F.col("contaminated")).drop("contaminated")
    return flagged


def streaming_importance_score(
    stream: DataFrame,
    weight_table: DataFrame,
    n_buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a document stream against a PRE-FIT DSIR-style weight table
    (``operators/curation.importance_weight_table``) — the
    fit-offline/score-at-ingest split: the target-vs-raw fit is a batch
    job over the existing corpus; admission scoring of new documents is
    this stateless per-row fold, so it belongs at ingest next to PII
    redaction and decontamination.

    The weight table (≤ B rows) collapses to ONE broadcast row holding a
    bucket→w map plus the smoothed default weight for buckets never seen
    at fit time. Scoring is a narrow projection: fold the row's bigram
    array, looking each md5 bucket up in the map — no explode, no
    shuffle, no state. The fold runs in bigram order (not the batch
    op's bucket-sorted order), so scores can differ from the batch
    operator in the last ulps; consumers comparing the two should round
    (tested at 1e-9).
    """
    from token_etl_spark.operators.curation import bigrams, hash_bucket

    wrow = weight_table.agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "w"))
        ).alias("_w"),
        (
            (F.max("r_total") + n_buckets).cast("double")
            / (F.max("t_total") + n_buckets).cast("double")
        ).alias("_w0"),
    )
    term = lambda b: F.coalesce(  # noqa: E731
        F.element_at(F.col("_w"), hash_bucket(b, n_buckets)), F.col("_w0")
    )
    n = F.size(F.col("_bg"))
    return (
        stream.withColumn("_bg", bigrams(text_col))
        .crossJoin(F.broadcast(wrow))
        .withColumn("n_bigrams", F.greatest(n, F.lit(0)).cast("long"))
        .withColumn(
            "score",
            F.aggregate(F.col("_bg"), F.lit(0.0), lambda acc, b: acc + term(b)),
        )
        .withColumn(
            "avg_weight",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("score") / F.col("n_bigrams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_bg", "_w", "_w0")
    )


def streaming_countmin(
    stream: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Running count-min sketch over a document stream's tokens — the
    streaming twin of ``operators/sketch.py countmin_table`` (same
    md5-salted bucketing, cell-wise identical counters, tested against
    the batch build).

    This is the workload sketches were invented for: the stream is
    unbounded but the aggregation state is the SKETCH — exactly
    depth × width counters, regardless of how many tokens or distinct
    tokens flow past — so the running aggregate never grows. Contrast a
    streaming ``groupBy(token)``: its state is the live vocabulary,
    unbounded on an open web crawl. Emit mode: ``update``/``complete``
    (a running aggregate); downstream consumers point-query a snapshot
    via ``countmin_estimate``, or union snapshots from several streams
    by cell-wise addition (mergeability, tested)."""
    from token_etl_spark.operators.sketch import countmin_table

    occ = stream.select(F.explode(tokens(text_col)).alias("token"))
    return countmin_table(occ, item_col="token", depth=depth, width=width)


def streaming_lm_score(
    stream: DataFrame,
    bigram_counts: DataFrame,
    prefix_counts: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Score a document stream against a PRE-FIT reference bigram LM
    (``operators/curation.bigram_lm_tables``) — the same fit-offline/
    score-at-ingest split as ``streaming_importance_score``: the LM fit
    is a batch job over the trusted reference corpus; admission scoring
    of new documents is this stateless per-row fold.

    Both LM frames are vocabulary-sized and collapse to ONE broadcast
    row holding a bigram→c2 map, a prefix→c1 map, and the vocab size V.
    Scoring folds the row's bigram array with p = (c2+1)/(c1+V) lookups
    — no explode, no shuffle, no state; unseen prefixes hit the 1/V
    smoothing floor automatically via the missing-key coalesce. The fold
    runs in bigram order (not the batch op's position-sorted order), so
    scores can differ from ``bigram_lm_quality`` in the last ulps;
    consumers comparing the two should round (tested at 1e-9)."""
    from token_etl_spark.operators.curation import bigrams

    lmrow = (
        bigram_counts.agg(
            F.map_from_entries(F.collect_list(F.struct("bg", "c2"))).alias("_c2")
        )
        .crossJoin(
            prefix_counts.agg(
                F.map_from_entries(F.collect_list(F.struct("w1", "c1"))).alias("_c1"),
                F.count("*").alias("_v"),
            )
        )
    )

    def p(b):
        w1 = F.split(b, " ")[0]
        return (
            (F.coalesce(F.element_at(F.col("_c2"), b), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.element_at(F.col("_c1"), w1), F.lit(0)) + F.col("_v")).cast(
                "double"
            )
        )

    n = F.size(F.col("_bg"))
    return (
        stream.withColumn("_bg", bigrams(text_col))
        .crossJoin(F.broadcast(lmrow))
        .withColumn("n_bigrams", F.greatest(n, F.lit(0)).cast("long"))
        .withColumn(
            "score", F.aggregate(F.col("_bg"), F.lit(0.0), lambda acc, b: acc + p(b))
        )
        .withColumn(
            "avg_p",
            F.when(F.col("n_bigrams") > 0, F.col("score") / F.col("n_bigrams"))
            .otherwise(F.lit(0.0)),
        )
        .drop("_bg", "_c2", "_c1", "_v")
    )


def streaming_bloom_decontaminate(
    stream: DataFrame,
    bloom_bf: DataFrame,
    k: int = 3,
    m_bits: int = 1 << 15,
    k_hashes: int = 4,
    min_overlap: int = 1,
    text_col: str = "text",
    mode: str = "drop",
) -> DataFrame:
    """Constant-memory twin of ``streaming_decontaminate``: probe each
    stream document's shingles against a PRE-BUILT Bloom bitmap
    (``operators/bloom.bloom_bitmap`` over the benchmark, fit offline —
    the same fit/score split as ``streaming_importance_score``).

    ``streaming_decontaminate`` broadcasts the benchmark's exact shingle
    STRINGS; this broadcasts 4 KiB regardless of benchmark size — the
    right trade when the 'benchmark' is a large deny-corpus rather than
    an MB-scale eval suite. Stateless narrow projection per micro-batch:
    the per-shingle probe runs inside a higher-order ``filter`` (the
    bitmap enters the lambda as a plain column capture — O(1), allowed
    under the PERF.md capture rule; the per-element md5s are inherent
    probe work, not re-computation). No false negatives: every truly
    contaminated document is flagged; FPs flag ≈(1−e^(−kn/m))^k extra
    shingles, so ``mode='drop'`` over-drops slightly rather than ever
    leaking contamination.
    """
    from token_etl_spark.operators.bloom import bloom_probe_expr

    base = stream.withColumn("_toks", tokens(text_col)).withColumn(
        "_sh", shingle_array_expr(F.col("_toks"), k)
    )
    n_maybe = F.size(
        F.filter(
            F.col("_sh"),
            lambda x: bloom_probe_expr(x, F.col("bf"), m_bits, k_hashes),
        )
    )
    flagged = (
        base.crossJoin(F.broadcast(bloom_bf))
        .withColumn("n_maybe", n_maybe)
        .withColumn("contaminated", F.col("n_maybe") >= min_overlap)
        .drop("_toks", "_sh", "bf")
    )
    if mode == "drop":
        return flagged.where(~F.col("contaminated")).drop("contaminated")
    return flagged


def streaming_hll(
    stream: DataFrame,
    item_expr,
    group_cols: tuple[str, ...] = (),
    m: int = 256,
) -> DataFrame:
    """Running HyperLogLog registers over a stream — the streaming twin
    of ``operators/sketch.py hll_registers`` (same salted md5 bucket/rho,
    tested register-identical to the batch build).

    Same bounded-state argument as ``streaming_countmin``, for DISTINCT
    counts: streaming ``approx_count_distinct`` state is opaque and
    engine-specific, while a streaming exact countDistinct's state is
    the live distinct set — unbounded. Here the aggregation state is ≤ m
    (bucket, max-rho) rows per group, forever, and a snapshot feeds
    ``hll_estimate`` (or merges with other streams' registers by
    cell-wise max) at read time. Emit mode: ``update``/``complete``.

    ``item_expr`` is a Column (e.g. an exploded token/shingle) so the
    caller controls the item granularity; pass the already-exploded
    stream when items are one-per-row.
    """
    from token_etl_spark.operators.sketch import hll_registers

    base = stream.select(*group_cols, item_expr.alias("_item"))
    return hll_registers(base, "_item", group_cols, m=m)


def streaming_validate(stream: DataFrame, checks: list[dict]) -> DataFrame:
    """Running Deequ-style quality metrics over a stream — the
    streaming twin of ``operators/profile.validate``: same check specs,
    same metric expressions, emitted as an updating aggregate
    (``complete``/``update`` mode) so a dashboard watches completeness/
    bounds/row-count drift as batches arrive.

    ``uniqueness`` is rejected: exact countDistinct over an unbounded
    stream needs unbounded state (Spark disallows it in streaming
    aggregations for the same reason) — the bounded-state distinct
    answer is the HLL register stream (``streaming_hll``), which a
    consumer ratios against the running count; that split mirrors the
    rollup design (mergeable-exact columns + register column).
    """
    from token_etl_spark.operators.profile import validate

    for ck in checks:
        if ck["check"] == "uniqueness":
            raise ValueError(
                "uniqueness needs unbounded state on a stream; track it"
                " via streaming_hll registers instead"
            )
    return validate(stream, checks)


def merge_kmv_state(
    batch_df: DataFrame,
    state_path: str,
    item_col: str = "_item",
    group_cols: tuple[str, ...] = (),
    k: int = 128,
    n_prebuckets: int = 64,
) -> None:
    """Merge one micro-batch into a per-group bottom-k (KMV) state
    table: sketch the batch, union with the stored sketch, keep the k
    smallest distinct hashes per group, rewrite.

    Exactness contract: bottom-k is a MERGEABLE summary —
    bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B)) — so after any
    number of batches, in any order, the state is bit-identical to the
    batch ``kmv_sketch`` over the concatenated input (pytest-pinned).
    The merge input is ≤ 2k rows per group (state k + batch k), so the
    re-rank window is sketch-sized regardless of batch or stream size.

    Durability: the state read goes through ``io.sinks._read_existing``,
    which treats ONLY analyzer path-not-found as first-batch — a
    transient storage error or corrupt footer re-raises instead of
    silently discarding all accumulated state under the overwrite (the
    exact hazard that helper documents). The rewrite commits through
    ``io.sinks._full_swap``: it lands in a staging tree first and is
    renamed into place, so the files the merge plan read are never
    overwritten mid-read (no persist/count eviction race) and a crash
    mid-write leaves the previous state intact. The one non-atomic
    window (between delete and rename) leaves a marked staging, which
    the heal at the start of the next merge promotes before reading —
    the standard HDFS-rename tradeoff (a table format with real MERGE
    would close it at 100 TB).
    """
    from pyspark.sql import Window
    from token_etl_spark.io.sinks import _full_swap, _heal_full_swap, _read_existing
    from token_etl_spark.operators.sketch import kmv_sketch

    spark = batch_df.sparkSession
    g = list(group_cols)
    batch_sk = kmv_sketch(
        batch_df, item_col, group_cols, k=k, n_prebuckets=n_prebuckets
    ).select(*g, "h")
    _heal_full_swap(spark, state_path)
    prev = _read_existing(spark, state_path)
    if prev is not None:
        merged = prev.select(*g, "h").unionByName(batch_sk).distinct()
    else:
        merged = batch_sk
    w = Window.partitionBy(*g).orderBy("h")
    trimmed = (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
    _full_swap(spark, state_path, {"": trimmed.write.parquet})


def run_streaming_kmv(
    stream: DataFrame,
    item_expr,
    state_path: str,
    group_cols: tuple[str, ...] = (),
    k: int = 128,
    n_prebuckets: int = 64,
) -> None:
    """Running bottom-k (KMV) distinct sketch over a stream — the
    streaming twin of ``operators/sketch.py kmv_sketch``, completing the
    sketch family's streaming story (bloom, HLL, count-min all have
    twins; KMV was the gap — ROADMAP r4 item 5).

    Unlike those three, bottom-k is NOT expressible as a pure streaming
    aggregate: the state transition is merge-and-trim (an order
    statistic), not a commutative cell-wise max/add. So this runs as a
    ``foreachBatch`` merge into a keyed parquet state table — the
    upsert-sink pattern (streaming/hourly.py) with the trim folded into
    the merge. State is ≤ k rows per group forever; each micro-batch
    shuffles only its own sketch. A snapshot of ``state_path`` feeds
    ``kmv_estimate_expr`` / ``kmv_pairwise`` directly (same (group, h,
    rank) shape as the batch sketch), giving running distinct counts AND
    running cross-group set overlap — the one the register sketches
    cannot answer.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        base = batch_df.select(*group_cols, item_expr.alias("_item"))
        merge_kmv_state(
            base, state_path, "_item", group_cols, k=k, n_prebuckets=n_prebuckets
        )

    _drain(stream, _sink)


def streaming_semantic_decontaminate(
    stream: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    mode: str = "flag",
) -> DataFrame:
    """Embedding-space decontamination at ingest — the streaming twin of
    ``operators/similarity.py semantic_decontaminate``, completing the
    decontamination trio's streaming story (exact shingle scan, bloom
    bitmap, and now semantic). Stateless stream-static shape: the STATIC
    benchmark collapses to one broadcast id-sorted struct-array row, the
    stream side evaluates a per-row max-cosine transform — no state
    store, no watermark, same reason decontamination belongs at ingest.

    ``mode='flag'`` appends (best_match, best_sim, contaminated) to the
    stream row; ``mode='drop'`` keeps clean rows only. An EMPTY
    benchmark yields contaminated = false for every row (best_match /
    best_sim stay NULL): array_max over the empty benchmark array is
    NULL, and without the coalesce the drop-mode filter ``~NULL``
    evaluated NULL and silently dropped the entire stream.
    """
    from token_etl_spark.operators.similarity import cosine

    barr = F.broadcast(
        benchmark.select(
            F.col(bench_id_col).alias("bid"),
            F.col(bench_vec_col).cast("array<double>").alias("bv"),
        ).agg(F.array_sort(F.collect_list(F.struct("bid", "bv"))).alias("_bench"))
    )
    sim = cosine(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", "x.bv")
    best = F.expr(
        f"array_max(transform(_bench, x -> struct({sim} AS sim, -x.bid AS neg_id)))"
    )
    flagged = (
        stream.crossJoin(barr)
        .withColumn("_best", best)
        .withColumn("best_match", -F.col("_best.neg_id"))
        .withColumn("best_sim", F.col("_best.sim"))
        .withColumn(
            "contaminated",
            F.coalesce(F.col("_best.sim") >= F.lit(float(threshold)), F.lit(False)),
        )
        .drop("_bench", "_best")
    )
    if mode == "drop":
        return flagged.where(~F.col("contaminated")).drop(
            "best_match", "best_sim", "contaminated"
        )
    return flagged


def streaming_probe_score(
    stream: DataFrame,
    model: DataFrame,
    threshold: float = 0.5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Score an embedding stream with a PRE-TRAINED linear probe
    (``operators/linear.linear_probe_train``) — the same train-offline/
    score-at-ingest split as ``streaming_lm_score`` and
    ``streaming_importance_score``, completing the quality-scorer
    streaming family: the probe trains as a batch job over the labeled
    reference, admission scoring of new vectors is this stateless
    map-only pass (model = broadcast 1-row (w, b) frame; score =
    w·x + b on the l2-normalized vector, pred = score >= threshold).
    The mean-cut variant is batch-only by nature — a running stream has
    no fixed mean; a streaming consumer thresholds against the cut
    computed on the training corpus."""
    from token_etl_spark.operators.similarity import dot, l2_normalize

    x = l2_normalize(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)")
    scored = stream.crossJoin(F.broadcast(model)).withColumn(
        "score", F.expr(dot("w", x)) + F.col("b")
    )
    return scored.withColumn(
        "pred", F.col("score") >= F.lit(float(threshold))
    ).drop("w", "b")


def streaming_zscore_flag(
    stream: DataFrame,
    stats: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Flag anomalous rows at ingest against PRE-FIT per-group
    (mean, std) statistics — the fit-offline/flag-at-ingest twin of
    ``operators/profile.zscore_outliers``, same split as every scorer in
    this family (LM, DSIR, bloom, semantic, probe): the stats frame is
    a batch aggregation over the reference window, admission flagging
    is this stateless map-only pass (broadcast stream-static join; a
    few rows per group key). A RUNNING mean/std would re-anchor the
    z-score as the stream drifts — flagging against the fitted window
    is the declared semantic (refit and swap the stats frame to move
    the window), exactly how the probe handles its mean cut.

    ``stats`` must carry ``group_cols`` + ``_mu`` + ``_sd`` — the frame
    ``zscore_outliers``'s aggregation computes; degenerate groups
    (NULL/0 sd) and UNSEEN groups (no stats row) yield z NULL and
    is_outlier false, matching batch.
    """
    v = F.col(value_col)
    z = F.when(F.col("_sd") > 0, (v - F.col("_mu")) / F.col("_sd"))
    return (
        stream.join(F.broadcast(stats), group_cols, "left")
        .withColumn("z", z)
        .withColumn("is_outlier", F.coalesce(F.abs(F.col("z")) > threshold, F.lit(False)))
        .drop("_mu", "_sd", "_n")
    )


def run_streaming_novelty(
    stream: DataFrame,
    gram_index_path: str,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scores_path: str | None = None,
    checkpoint_path: str | None = None,
) -> None:
    """Streaming twin of ``operators/curation.py ngram_novelty`` — the
    per-crawl-batch marginal-information monitor run AT INGEST: each
    micro-batch scores its own documents' novelty against the persisted
    distinct-gram index, appends (doc_id, n_grams, n_novel, novelty)
    rows to ``scores_path``, and appends the batch's genuinely new
    grams to the index so later batches are scored against everything
    seen so far. The novelty trend across batches is the
    diminishing-returns curve that tells a pipeline a source is mined
    out — computed without ever re-scanning the accumulated corpus.

    Equivalence contract (pinned in tests/test_streaming_curation.py):
    when batches arrive in ``id_col`` order (batch N's ids all precede
    batch N+1's — the natural crawl-accumulation order), the union of
    per-batch scores equals the batch operator over the concatenated
    corpus, because "gram unseen by any earlier doc" factors exactly
    into "gram absent from the index (earlier batches)" AND "this doc
    is the gram's batch-local first occurrence" (a min-over-gram window
    within the batch). Out-of-order ids break the equivalence (a later
    batch cannot retroactively de-novel an earlier doc) — the same
    arrival-order caveat the streaming funnel declares.

    State is the distinct-gram index: bounded by corpus VOCABULARY
    (grams, not documents — sublinear in practice), shared on disk in
    the same (checkpoint-lineage, batch_id)-keyed overwrite-partition
    layout as ``run_streaming_neardup``'s MinHash index, so a batch
    retry rewrites its own partition instead of double-counting, and a
    continuation stream (fresh checkpoint over new crawl files, same
    index dir) cannot clobber an earlier run's partitions.
    """
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _novelty_sink_batch(
            batch_df,
            key(batch_id),
            gram_index_path,
            k=k,
            text_col=text_col,
            id_col=id_col,
            scores_path=scores_path,
        ),
        checkpoint_path,
    )


def _novelty_sink_batch(
    batch_df: DataFrame,
    key: str,
    gram_index_path: str,
    *,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scores_path: str | None = None,
) -> None:
    """One micro-batch of :func:`run_streaming_novelty` (module-level so
    retry idempotency is unit-testable). The gram-index read EXCLUDES
    the batch's own partition: a retry after a partial state write would
    otherwise see its own grams as already-indexed — every doc scored
    novelty=0 and the gram partition overwritten EMPTY."""
    if batch_df.isEmpty():
        return
    from pyspark.sql import Window

    from token_etl_spark.io.sinks import _heal_full_swap

    spark = batch_df.sparkSession
    _heal_full_swap(spark, gram_index_path)  # a writer heals before it reads
    grams = shingles(batch_df, text_col=text_col, id_col=id_col, k=k)
    index = _read_partitioned_state(spark, gram_index_path, exclude_key=key)
    if index is not None:
        # left join beats anti-join here: the gram's index-membership
        # AND its batch-local first are both needed per pair row.
        grams = grams.join(
            index.select(F.col("shingle"), F.lit(True).alias("_seen")),
            "shingle",
            "left",
        )
    else:
        grams = grams.withColumn("_seen", F.lit(None).cast("boolean"))
    w = Window.partitionBy("shingle")
    scored = (
        grams.withColumn("_first", F.min("id").over(w))
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (
                    F.col("_seen").isNull() & (F.col("id") == F.col("_first"))
                ).cast("long")
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        )
    )
    if scores_path is not None:
        _write_batch_partition(scored, scores_path, key)
    new_grams = shingles(batch_df, text_col=text_col, id_col=id_col, k=k).select(
        "shingle"
    ).distinct()
    if index is not None:
        new_grams = new_grams.join(index.select("shingle"), "shingle", "left_anti")
    _write_batch_partition(new_grams, gram_index_path, key)


def read_novelty_scores(spark, scores_path: str) -> DataFrame | None:
    """All per-batch novelty rows appended so far (partition col dropped)."""
    return _read_partitioned_state(spark, scores_path)


# ---------------------------------------------------------------------------
# streaming snapshot diff (incremental-crawl report)


def write_snapshot_state(
    df: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Persist a snapshot as digest state (``id, digest``) for
    :func:`run_streaming_snapshot_diff` — text is hashed in the scan
    projection and NEVER persisted (the batch ``snapshot_diff``'s
    digest-only contract, held at rest too: the state is two thin
    columns regardless of corpus width)."""
    df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest")
    ).write.mode("overwrite").parquet(path)


def _snapshot_diff_sink_batch(
    batch_df: DataFrame,
    key: str,
    old_path: str,
    diff_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch: diff the batch's ids against the OLD snapshot
    state (added / changed / unchanged — ``removed`` needs the whole
    new snapshot and lands in :func:`finalize_snapshot_diff`). Writes
    are keyed by (checkpoint lineage, batch_id) partition with
    mode=overwrite — a foreachBatch retry rewrites its own partition
    (module-level so retry idempotency is unit-testable, same contract
    as ``streaming/dedup._neardup_sink_batch``). The old state is
    static, so no own-partition exclusion is needed here."""
    from token_etl_spark.operators.curation import snapshot_status_expr

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    old = (
        spark.read.parquet(old_path)
        .withColumnRenamed("digest", "_od")
        .withColumn("_op", F.lit(True))
    )
    # the batch side is the NEW side and is always present, so the
    # shared status contract's "removed" branch can never fire here
    # ("removed" is finalize-time — an old id no batch delivers)
    n = batch_df.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("_nd"),
        F.lit(True).alias("_np"),
    )
    out = n.join(old, "id", "left").select(
        "id", snapshot_status_expr().alias("status")
    )
    _write_batch_partition(out, diff_path, key)


def run_streaming_snapshot_diff(
    stream: DataFrame,
    old_path: str,
    diff_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming twin of ``operators/curation.snapshot_diff``: the NEW
    snapshot arrives as a stream (the refreshed crawl landing batch by
    batch), the OLD snapshot is persisted digest state
    (:func:`write_snapshot_state`), and each micro-batch reports its
    own ids as added/changed/unchanged the moment it lands — the report
    a re-crawl pipeline watches live to size downstream re-processing,
    instead of waiting for the full snapshot to finish.

    ``removed`` is inherently a whole-snapshot verdict (an id is removed
    only if NO batch ever re-delivers it), so it is computed once at the
    report boundary by :func:`finalize_snapshot_diff`. Snapshot
    contract: ids are unique across the WHOLE new snapshot (same
    uniqueness contract as the batch operator); a continuation must
    resume the same checkpoint (availableNow picks up only new files) —
    a fresh checkpoint over already-processed files would re-report
    those ids under a new lineage prefix.

    State shape at 100 TB: per batch, ONE id-keyed join of the batch
    against the old digest table (two thin columns; bucketed-by-id old
    state makes it shuffle-free on the static side) and one partition
    dir of (id, status) rows. ``compact_state_partitions``
    (streaming/dedup.py) applies to ``diff_path`` unchanged when batch
    count grows pathological."""
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _snapshot_diff_sink_batch(
            batch_df,
            key(batch_id),
            old_path,
            diff_path,
            id_col=id_col,
            text_col=text_col,
        ),
        checkpoint_path,
    )


def finalize_snapshot_diff(spark, old_path: str, diff_path: str) -> DataFrame:
    """The complete diff report once the new snapshot has fully landed
    (quiescent stream — the same boundary contract as
    ``compact_state_partitions``): every per-batch added/changed/
    unchanged row, plus ``removed`` = old ids no batch ever delivered
    (one anti-join of the thin old state against the accumulated ids).
    Output schema matches the batch ``snapshot_diff`` exactly —
    equivalence is pinned in tests/test_streaming_curation.py."""
    seen = _read_partitioned_state(spark, diff_path)
    old = spark.read.parquet(old_path)
    if seen is None:
        return old.select("id", F.lit("removed").alias("status"))
    removed = old.join(seen.select("id"), "id", "left_anti").select(
        "id", F.lit("removed").alias("status")
    )
    return seen.select("id", "status").unionByName(removed)


# ---------------------------------------------------------------------------
# streaming URL-level dedup (ingest-tier keep-best)


def _url_dedup_sink_batch(
    batch_df: DataFrame,
    state_path: str,
    *,
    n_buckets: int = 16,
    url_col: str = "url",
    quality_col: str | None = None,
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of :func:`run_streaming_url_dedup`: canonicalize
    the batch's URLs and merge keep-best into the touched state buckets
    only, via the shared :func:`io.sinks.merge_touched_buckets` commit
    (staging + per-bucket rename swap, crash-healed, bucket-count
    validated — the one written-down touched-bucket MERGE, keep-BEST
    ordering here vs the upsert sink's keep-latest).

    Retries need no version/partition keying here, unlike the
    append-shaped sinks: keep-best is an idempotent, commutative fold
    (max under the (quality DESC, id ASC) order), so re-merging the same
    batch — even into a state some buckets of which already absorbed it
    before a crash — converges to the same rows."""
    from token_etl_spark.io.sinks import merge_touched_buckets
    from token_etl_spark.operators.curation import url_canonicalize

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    cols = ["canon_url", id_col] + ([quality_col] if quality_col else [])
    canon = (
        url_canonicalize(batch_df, url_col=url_col)
        .select(*cols)
        .withColumn(
            "_bucket", F.pmod(F.xxhash64("canon_url"), F.lit(n_buckets)).cast("int")
        )
        # materialize ONCE: the merge plan reads this frame twice (the
        # touched-bucket broadcast and the union) — without the
        # checkpoint each would re-run the canonicalization regexes
        .localCheckpoint(eager=True)
    )
    order = (
        [F.col(quality_col).desc(), F.col(id_col).asc()]
        if quality_col
        else [F.col(id_col).asc()]
    )
    merge_touched_buckets(spark, canon, state_path, "canon_url", order, n_buckets)


def run_streaming_url_dedup(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    n_buckets: int = 16,
    url_col: str = "url",
    quality_col: str | None = None,
    id_col: str = "doc_id",
) -> None:
    """Streaming twin of ``operators/curation.url_dedup`` — the FIRST
    dedup tier run AT INGEST: state is one row per canonical URL (the
    best document seen so far, highest ``quality_col`` then smallest
    id), maintained incrementally as the crawl stream lands. No text is
    ever compared or stored — the state is (canon_url, id, quality),
    thin columns regardless of corpus width.

    State shape at 100 TB: canonical URLs are hash-bucketed into
    ``n_buckets`` parquet partitions; each micro-batch reads and
    rewrites ONLY the buckets its keys land in (the shared
    ``io/sinks.merge_touched_buckets`` MERGE — |touched|/n_buckets of
    the state, touched buckets pruned in-plan, staging + per-bucket
    rename commit with crash healing, persisted bucket-count marker).
    Stream≡batch equivalence and crash-retry convergence are pinned in
    tests/test_streaming_curation.py.

    The final kept set equals the batch operator's ``kept`` rows only
    under the batch contract's tie rules, which require ids unique
    across the whole stream (re-deliveries of the same (id, quality)
    row are absorbed idempotently)."""
    _lineage_keys(checkpoint_path)  # no checkpoint, no exactly-once delivery
    _drain(
        stream,
        lambda batch_df, batch_id: _url_dedup_sink_batch(
            batch_df,
            state_path,
            n_buckets=n_buckets,
            url_col=url_col,
            quality_col=quality_col,
            id_col=id_col,
        ),
        checkpoint_path,
    )


def read_url_dedup_state(spark, state_path: str) -> DataFrame | None:
    """The kept (canon_url, id[, quality]) rows so far, bucket column
    dropped; None before any batch landed (``io.sinks.read_bucketed``:
    the read never misses a bucket a crash left only in the staging)."""
    from token_etl_spark.io.sinks import read_bucketed

    df = read_bucketed(spark, state_path)
    return df.drop("_bucket") if df is not None else None


def _resolve_route_params(
    spark, export_path: str, key_col: str | None, seed: str | None
) -> tuple[str, str]:
    """Resolve (key_col, seed) from the export's persisted params:
    callers that pass None ADOPT the export's values; callers that pass
    explicit values must MATCH them (a mismatched seed routes every key
    into a foreign range with no error in the data — the silent
    corruption this check exists to catch; review-found r11). Exports
    written before params existed fall back to the documented defaults.
    """
    from token_etl_spark.io.sinks import _read_existing

    params = _read_existing(spark, f"{export_path.rstrip('/')}/params")
    if params is None:
        return key_col or "doc_id", seed or "s0"
    row = params.collect()[0]
    for name, given, recorded in (
        ("key_col", key_col, row["key_col"]),
        ("seed", seed, row["seed"]),
    ):
        if given is not None and given != recorded:
            raise ValueError(
                f"shard router {name}={given!r} does not match the"
                f" export's recorded {name}={recorded!r} at"
                f" {export_path}/params — routing with mismatched"
                " parameters lands documents in foreign shard ranges"
            )
    return row["key_col"], row["seed"]


def _route_sink_batch(
    batch_df: DataFrame,
    export_path: str,
    key: str,
    key_col: str | None,
    token_col: str | None,
    text_col: str,
    seed: str | None,
) -> None:
    from token_etl_spark.operators.curation import route_to_shards
    from token_etl_spark.operators.text import token_count

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    key_col, seed = _resolve_route_params(spark, export_path, key_col, seed)
    manifest = spark.read.parquet(f"{export_path.rstrip('/')}/manifest")
    tok = F.col(token_col) if token_col else token_count(text_col)
    routed = route_to_shards(
        batch_df.withColumn("n_tokens", tok.cast("long")),
        manifest,
        key_col=key_col,
        seed=seed,
    )
    # retry-idempotent: the whole batch dir overwrites under its
    # (lineage, batch_id) key; shard_id stays a partition column inside
    # it so readers still prune by shard. Co-partition on shard_id
    # first (the r10 file-splay rule).
    (
        routed.repartition("shard_id")
        .sortWithinPartitions("shard_id", "ord_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(f"{export_path.rstrip('/')}/incoming/batch_id={key}")
    )


def run_streaming_shard_router(
    stream: DataFrame,
    export_path: str,
    checkpoint_path: str,
    key_col: str | None = None,
    token_col: str | None = None,
    text_col: str = "text",
    seed: str | None = None,
) -> None:
    """Incremental shard export at ingest — the streaming consumer of
    the ``export_shards`` manifest: each micro-batch routes its
    documents into the EXISTING shard layout by manifest key range
    (``route_to_shards`` — no global cumsum ever re-runs, shipped
    shards are never renumbered) and lands them under
    ``<export>/incoming/batch_id=<lineage-key>/shard_id=<s>/``.
    Shards grow until the owner splits them — the range-sharding
    discipline the batch operator documents.

    (key_col, seed) resolve FROM the export's persisted ``params``
    table by default — pass them explicitly only to assert they match
    (a mismatch raises; routing with a foreign seed would silently put
    every document in the wrong range). Exports written before params
    existed fall back to the documented defaults.

    Idempotency: the (checkpoint-lineage, batch_id) partition key —
    a retry overwrites its own batch dir, a continuation stream gets a
    fresh prefix, and the base ``data/`` tree is never touched.
    ``shard_id`` remains a partition column INSIDE each batch dir, so
    a reader of ``incoming/`` still prunes by shard.
    ``read_incremental_shards`` serves the combined view."""
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _route_sink_batch(
            batch_df,
            export_path,
            key(batch_id),
            key_col=key_col,
            token_col=token_col,
            text_col=text_col,
            seed=seed,
        ),
        checkpoint_path,
    )


def read_incremental_shards(spark, export_path: str) -> DataFrame:
    """The combined shard view: the original ``export_shards`` base tree
    plus every stream-routed increment, one frame keyed by ``shard_id``
    (batch lineage dropped). Columns are the intersection contract both
    writers share: document columns + ``ord_key``, ``n_tokens``,
    ``shard_id``. Missing ``incoming/`` (no stream ran yet) serves the
    base alone."""
    from token_etl_spark.io.sinks import _committed_shard_layout

    # a crash-cut split/compaction is read as committed, in place: the
    # read changes nothing on disk, so it never races a writer's heal
    layout = _committed_shard_layout(spark, export_path)
    base = layout["data"].withColumn("shard_id", F.col("shard_id").cast("long"))
    if not layout["incoming"]:
        return base
    # _read_partitioned_state (not bare _read_existing): it heals the
    # crashed-mid-first-batch layout — an incoming/ holding only
    # committer leftovers and zero data files serves as absent instead
    # of wedging the combined view on UNABLE_TO_INFER_SCHEMA
    # (review-found r11; the ADVICE-r10 wedge class)
    inc = _read_partitioned_state(spark, f"{export_path.rstrip('/')}/incoming")
    if inc is None:
        return base
    inc = inc.withColumn("shard_id", F.col("shard_id").cast("long"))
    return base.unionByName(inc.select(*base.columns))


def _ingest_sink_batch(
    batch_df: DataFrame,
    key: str,
    stats_path: str,
    out_path: str,
    *,
    html_col: str = "text",
    url_col: str = "url",
    min_docs: int = 1,
    min_mean_quality: float | None = None,
    max_dup_rate: float | None = None,
    blocklist: tuple[str, ...] = (),
    suffixes: DataFrame | None = None,
) -> None:
    """One micro-batch of the COMPOSED crawl-ingest tier, in the
    declared order every twin documents: extraction FIRST (everything
    downstream keys off extracted text), then the refresh-aware domain
    gate (validated per-batch load of the saved reputation tree —
    domain-dropped documents never reach the repetition folds), then
    the map-only repetition gate on the survivors. Emits one DECISION
    row per input document — gate-dropped rows keep their accounting
    row with later-stage columns NULL and ``ingest_keep=False``, the
    ``prepare_corpus`` convention — plus the extracted text on kept
    rows so downstream streaming consumers (digest dedup, quality
    scoring) read the gated corpus directly. Own-partition overwrite
    under (lineage, batch_id): retry-idempotent."""
    from token_etl_spark.operators.curation import domain_filter, load_domain_stats
    from token_etl_spark.operators.text import (
        extract_html_text,
        gopher_repetition_filter_inline,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    ex = (
        extract_html_text(batch_df, html_col=html_col)
        .withColumn(html_col, F.col("extracted"))
        .drop("n_blocks", "n_kept_blocks", "html_chars", "extracted", "extracted_chars")
    )
    stats = load_domain_stats(spark, stats_path, suffixes=suffixes)
    flagged = domain_filter(
        ex,
        stats,
        url_col=url_col,
        min_docs=min_docs,
        min_mean_quality=min_mean_quality,
        max_dup_rate=max_dup_rate,
        blocklist=blocklist,
        suffixes=suffixes,
    )
    kept = flagged.where(F.col("domain_kept")).drop("domain", "domain_kept")
    rep = gopher_repetition_filter_inline(kept, text_col=html_col).select(
        "doc_id",
        F.col("keep").alias("passed_repetition"),
        F.col("reject_reasons").alias("repetition_reasons"),
    )
    out = (
        flagged.join(rep, "doc_id", "left")
        .withColumn(
            "ingest_keep",
            F.col("domain_kept")
            & F.coalesce(F.col("passed_repetition"), F.lit(False)),
        )
        # drop the text of gate-rejected documents — the decision row
        # stays, the bytes do not follow the corpus downstream
        .withColumn(
            html_col,
            F.when(F.col("ingest_keep"), F.col(html_col)),
        )
    )
    _write_batch_partition(out, out_path, key)


def run_streaming_ingest(
    stream: DataFrame,
    stats_path: str,
    out_path: str,
    checkpoint_path: str,
    html_col: str = "text",
    url_col: str = "url",
    min_docs: int = 1,
    min_mean_quality: float | None = None,
    max_dup_rate: float | None = None,
    blocklist: tuple[str, ...] = (),
    suffixes: DataFrame | None = None,
) -> None:
    """The COMPOSED crawl-ingest tier at the stream head — the
    streaming twin of ``prepare_corpus(extract_html=True, url_col=...,
    repetition_filter=True)``'s ingest stages, in the same declared
    order (extraction → domain gate → repetition gate), as ONE
    foreachBatch runner instead of three separately-wired transforms.
    The domain gate is the REFRESH-AWARE form: the saved reputation
    tree re-loads (validated) every micro-batch, so a
    ``refresh_domain_stats`` swap lands on the next batch with no
    restart. Per-document decision rows land retry-idempotently under
    (checkpoint-lineage, batch_id) partitions; kept rows carry the
    extracted text so downstream streaming stages read the gated
    corpus directly, dropped rows keep their accounting row with NULL
    text (the every-input-document accounting convention).

    Scale shape per batch: one codegen'd extraction projection + one
    broadcast keep-list join + one map-only fold projection — the
    corpus rows never shuffle; the only reads beyond the batch are the
    domain-cardinality reputation tree."""
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _ingest_sink_batch(
            batch_df,
            key(batch_id),
            stats_path,
            out_path,
            html_col=html_col,
            url_col=url_col,
            min_docs=min_docs,
            min_mean_quality=min_mean_quality,
            max_dup_rate=max_dup_rate,
            blocklist=blocklist,
            suffixes=suffixes,
        ),
        checkpoint_path,
    )


def _domain_gate_sink_batch(
    batch_df: DataFrame,
    key: str,
    stats_path: str,
    out_path: str,
    *,
    url_col: str = "url",
    min_docs: int = 1,
    min_mean_quality: float | None = None,
    max_dup_rate: float | None = None,
    blocklist: tuple[str, ...] = (),
    suffixes: DataFrame | None = None,
) -> None:
    """One micro-batch of the refresh-aware domain gate: load the
    CURRENT saved reputation tree through the validated loader (rule
    mismatch is loud — a mid-stream rule migration refuses instead of
    silently matching nothing), apply ``domain_filter``'s exact batch
    expression tree, and land the flagged rows under the batch's own
    (checkpoint-lineage, batch_id) partition with mode=overwrite — a
    foreachBatch retry rewrites its own partition (the snapshot-diff
    sink contract; module-level so retry idempotency is
    unit-testable)."""
    from token_etl_spark.operators.curation import domain_filter, load_domain_stats

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    stats = load_domain_stats(spark, stats_path, suffixes=suffixes)
    flagged = domain_filter(
        batch_df,
        stats,
        url_col=url_col,
        min_docs=min_docs,
        min_mean_quality=min_mean_quality,
        max_dup_rate=max_dup_rate,
        blocklist=blocklist,
        suffixes=suffixes,
    )
    _write_batch_partition(flagged, out_path, key)


def run_streaming_domain_gate(
    stream: DataFrame,
    stats_path: str,
    out_path: str,
    checkpoint_path: str,
    url_col: str = "url",
    min_docs: int = 1,
    min_mean_quality: float | None = None,
    max_dup_rate: float | None = None,
    blocklist: tuple[str, ...] = (),
    suffixes: DataFrame | None = None,
) -> None:
    """The REFRESH-AWARE domain gate at ingest: ``domain_filter``
    applied to a stream directly broadcasts one ``stats`` frame for the
    stream's lifetime, so a reputation refresh needs a restart to land;
    this runner re-loads the saved tree (``operators/curation.
    save_domain_stats`` layout) on EVERY micro-batch — the IVF serving
    sink's centroids re-read pattern — so a
    :func:`~token_etl_spark.operators.curation.refresh_domain_stats`
    swap is picked up on the continuing stream's NEXT batch with no
    restart: batch N gates under the old keep-list, batch N+1 under the
    new one (pinned in tests/test_streaming_curation.py). The load is
    VALIDATED per batch (``load_domain_stats``), so a deliberate
    ``allow_rule_change=True`` migration turns the stream loudly red on
    its next batch instead of silently flagging every ccTLD document.

    State shape at 100 TB: the reputation tree is domain-cardinality
    (small next to the corpus) and its load is one bounded parquet read
    per micro-batch — cheap against any real batch's gate work, and the
    price buys refresh pickup without stream restarts. Output rows land
    per (checkpoint-lineage, batch_id) partition, retry-idempotent."""
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _domain_gate_sink_batch(
            batch_df,
            key(batch_id),
            stats_path,
            out_path,
            url_col=url_col,
            min_docs=min_docs,
            min_mean_quality=min_mean_quality,
            max_dup_rate=max_dup_rate,
            blocklist=blocklist,
            suffixes=suffixes,
        ),
        checkpoint_path,
    )
