"""Streaming deduplication — ingest-time duplicate suppression for a
training-data pipeline (re-crawled pages, redelivered queue messages).

Exact dedup on a stream is the batch primitive applied to it:
``stream.dropDuplicates(keys)`` keeps one state row per distinct key,
forever. ``streaming_dedup_within_watermark`` is the 100 TB-safe form:
``dropDuplicatesWithinWatermark`` suppresses duplicates only when they
arrive within the watermark horizon of the first occurrence, and
evicts state past it (bounded state, at the cost of readmitting a
duplicate that recurs later than the horizon; downstream batch dedup
catches those). The near-dup runners keep a persisted MinHash or IVF
index as their state.

Every ``foreachBatch`` runner of the ``streaming`` package drains
through :func:`_drain`, the one micro-batch loop — the Spark form of the
reference's hand-rolled block-range loop (SURVEY §2.9).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_file_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over a staged parquet directory (test harness
    shape — production would read Kafka or cloud-storage notifications)."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermark-bounded dedup: suppress duplicates arriving within
    ``watermark`` of the first occurrence; evict state beyond it.

    The event-time column must NOT be part of ``keys`` (redelivered
    events typically carry the same payload key but a fresh arrival
    time — dropDuplicatesWithinWatermark matches on keys only).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def run_streaming_neardup(
    stream: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    matches_path: str | None = None,
    checkpoint_path: str | None = None,
) -> None:
    """Streaming incremental NEAR-dup against a persisted MinHash index
    — the streaming twin of ``operators/dedup.py minhash_match_index``,
    and the steady-state daily-dedup loop run continuously: each
    micro-batch shingles and signs ONLY itself, LSH-matches against the
    parquet index at ``index_path``, appends verified (id_new, id_ref,
    jaccard) pairs to ``matches_path`` (when given), and appends the
    batch's NOVEL documents' per-doc index rows (``minhash_index_frame``
    — rows are per-doc independent, so appends never rewrite) so later
    batches deduplicate against everything already admitted.

    Exactly the ``cross_corpus_dedup``-style foreachBatch upsert shape
    (streaming/hourly.py), but with LSH matching instead of exact
    digests: within-batch duplicates are resolved by the batch operator
    semantics (a batch doc matching an INDEXED doc is dropped; two
    near-dup docs first seen in the SAME batch are both admitted —
    matching the batch operator, which only matches new-vs-index; run
    ``minhash_dedup`` inside the batch first if within-batch pairs
    matter). State is the index itself — bounded by admitted corpus
    size, shared with the batch pipeline, and readable by it at any
    time. Stream≡batch equivalence is pinned in
    tests/test_streaming_dedup.py.

    Idempotency: every write is keyed by (checkpoint lineage, batch_id)
    — each batch's index rows and match pairs land in their own
    ``batch_id=<ckpt-prefix>-N`` partition dir with mode=overwrite, so a
    foreachBatch RETRY (or a whole re-run over the same source with the
    same ``checkpoint_path``) rewrites that batch's partition instead of
    appending duplicates, while a CONTINUATION stream (fresh checkpoint,
    new source files, same index dir) gets a fresh prefix and cannot
    clobber the original run's batch-0 partition.
    ``checkpoint_path`` is REQUIRED (ValueError otherwise): it anchors
    both Structured Streaming's source tracking and the state-partition
    lineage prefix; readers see the partition column via
    :func:`read_neardup_index` / :func:`read_neardup_matches`, which
    drop it.
    """
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _neardup_sink_batch(
            batch_df,
            key(batch_id),
            index_path,
            text_col=text_col,
            id_col=id_col,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            matches_path=matches_path,
        ),
        checkpoint_path,
    )


def _neardup_sink_batch(
    batch_df: DataFrame,
    key: str,
    index_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    matches_path: str | None = None,
) -> None:
    """One micro-batch of :func:`run_streaming_neardup` (module-level so
    retry idempotency is unit-testable: calling this twice with the same
    ``key`` must produce the same final state).

    The index read EXCLUDES the batch's own partition (``batch_id !=
    key``): a foreachBatch retry that crashed after writing its state
    partition but before the checkpoint commit would otherwise match the
    batch against its own partial write — every doc self-matching its
    index copy at jaccard 1.0, bogus pairs in the matches partition, and
    the index partition overwritten EMPTY (docs permanently lost).

    That partition exclusion is the WHOLE retry guard — the matcher
    keeps same-id pairs, so a doc re-delivered under the SAME id in a
    LATER batch (at-least-once source) matches its own earlier index
    copy at jaccard 1.0 and is correctly NOT re-admitted: the index
    never accumulates duplicate rows per id."""
    from token_etl_spark.io.sinks import _heal_full_swap
    from token_etl_spark.operators.dedup import minhash_index_frame, minhash_match_index

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    _heal_full_swap(spark, index_path)  # a writer heals before it reads
    index = _read_partitioned_state(spark, index_path, exclude_key=key)
    new_idx = minhash_index_frame(
        batch_df, text_col, id_col, k, num_hashes
    ).localCheckpoint(eager=False)
    if index is not None:
        matches = minhash_match_index(
            batch_df, index, text_col, id_col, k, num_hashes, bands, threshold
        ).localCheckpoint(eager=True)
        if matches_path is not None:
            _write_batch_partition(matches, matches_path, key)
        dup_ids = matches.select(F.col("id_new").alias("id")).distinct()
        novel = new_idx.join(dup_ids, "id", "left_anti")
    else:
        novel = new_idx
    _write_batch_partition(novel, index_path, key)


def _write_batch_partition(df: DataFrame, path: str, key: str) -> None:
    """Write one micro-batch's ``batch_id=<key>`` partition of an
    append-mode state tree, after healing the tree: a marked staging
    from an interrupted :func:`compact_state_partitions` promoted AFTER
    this write would drop the partition."""
    from token_etl_spark.io.sinks import _heal_full_swap

    _heal_full_swap(df.sparkSession, path)
    df.write.mode("overwrite").parquet(f"{path.rstrip('/')}/batch_id={key}")


_NO_CHECKPOINT = (
    "checkpoint_path is required: it anchors Structured Streaming's source"
    " tracking and the state-partition lineage prefix; without it a"
    " continuation stream (which restarts batch numbering at 0) would"
    " clobber the original run's partitions"
)


def _lineage_keys(checkpoint_path: str | None) -> Callable[[int], str]:
    """``batch_id → <md5(checkpoint_path)[:8]>-<batch_id>``, the
    partition-dir key of idempotent foreachBatch writes; raises
    ``ValueError`` for a missing or empty ``checkpoint_path``, so a
    runner that calls it first fails before touching its stream.

    Keyed by (checkpoint lineage, batch_id): a RETRY of the same batch
    in the same stream produces the same key and overwrites its own
    partition, while a CONTINUATION stream (fresh checkpoint over new
    source files, same state dir) gets a different prefix — without
    the prefix, the new stream's batch 0 would clobber the original
    run's ``batch_id=0`` partition."""
    if not checkpoint_path:
        raise ValueError(_NO_CHECKPOINT)
    prefix = hashlib.md5(checkpoint_path.encode()).hexdigest()[:8]
    return lambda batch_id: f"{prefix}-{batch_id}"


def _drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_path: str | None = None,
) -> None:
    """Run ``sink(batch_df, batch_id)`` on every micro-batch of the input
    available now, then return: the package's one ``foreachBatch`` loop
    (update mode, ``availableNow`` trigger, checkpointed when
    ``checkpoint_path`` is given). Per-batch accounting attaches here.
    The sinks own their empty-batch checks; the loop adds no Spark job."""
    writer = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    writer.start().awaitTermination()


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one non-hidden data file anywhere
    below it, where hidden means ANY path segment below ``path`` starts
    with '_' or '.' — the analyzer's own visibility rule. Checking only
    the leaf basename would count committer leftovers under
    ``_temporary/.../part-*.parquet`` as data (a batch that crashed
    mid-write), making the UNABLE_TO_INFER_SCHEMA heal refuse to fire on
    exactly the wedge it exists to clear (r11 review). Distinguishes
    "state dir with no visible data" from a dir whose read failed for a
    real reason."""
    from token_etl_spark.io.sinks import _bucket_fs

    fs, hpath = _bucket_fs(spark, path)
    p = hpath(path)
    if not fs.exists(p):
        return False
    base = fs.makeQualified(p).toString().rstrip("/")
    it = fs.listFiles(p, True)
    while it.hasNext():
        full = it.next().getPath().toString()
        rel = full[len(base):].lstrip("/")
        if not any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            return True
    return False


def _read_partitioned_state(
    spark: SparkSession, path: str, exclude_key: str | None = None
) -> DataFrame | None:
    """Read a ``batch_id=N``-partitioned state dir, dropping the
    partition column (it exists for write idempotency, not semantics);
    None iff the path does not exist yet (same contract as
    ``io.sinks._read_existing`` — anything but path-not-found
    re-raises).

    ``exclude_key`` filters out one batch's partition BEFORE the drop —
    a sink re-running its own batch (foreachBatch retry after a partial
    state write) must never see its own previous write as prior state.
    For string-inferred partition columns (every dir this module writes:
    keys are ``<hex8>-<n>``) the exclusion compares without a cast, so
    partition pruning keeps it a directory-listing filter. A LEGACY dir
    with bare-numeric partition names is int-inferred; there the column
    is cast to string first — correctness over pruning (the exclusion
    becomes a scan-side filter), because comparing int to ``'hex-N'``
    directly coerces to a NULL comparison that silently filters out
    EVERY row, losing the whole index.

    A dir that EXISTS but holds zero parquet data files is treated as
    absent (→ None), not an error: the analyzer raises
    UNABLE_TO_INFER_SCHEMA on such dirs, and before the empty-batch
    write guard in the embedding sink, an all-duplicate batch could
    leave exactly that layout (``batch_id=<key>`` containing only
    ``_SUCCESS``) — re-raising would wedge every later batch of the
    stream (ADVICE r10). Any other analyzer failure (corrupt footer,
    conflicting types) still re-raises.

    Reads an interrupted whole-tree swap's marked staging in place
    (``io.sinks._committed_tree``): a compaction cut between the final
    delete and the rename leaves the whole state there, and reading
    around it would re-admit every indexed row. The read changes nothing
    on disk; the next writer finishes the swap."""
    from pyspark.errors import AnalysisException

    from token_etl_spark.io.sinks import _committed_tree, _read_existing

    path = _committed_tree(spark, path)
    try:
        df = _read_existing(spark, path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e) and not _has_data_files(spark, path):
            return None
        raise
    if df is None:
        return None
    if "batch_id" not in df.columns:
        return df
    if exclude_key is not None:
        if dict(df.dtypes).get("batch_id") == "string":
            df = df.filter(F.col("batch_id") != F.lit(exclude_key))
        else:
            df = df.filter(F.col("batch_id").cast("string") != F.lit(exclude_key))
    return df.drop("batch_id")


def read_neardup_index(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The persisted index as ``minhash_match_index`` expects it (per-doc
    rows, no partition column)."""
    return _read_partitioned_state(spark, index_path)


def read_neardup_matches(spark: SparkSession, matches_path: str) -> DataFrame | None:
    """All verified (id_new, id_ref, jaccard) pairs appended so far."""
    return _read_partitioned_state(spark, matches_path)


def compact_state_partitions(
    spark: SparkSession,
    path: str,
    label: str = "compacted",
    target_mb: int = 128,
) -> int:
    """Compact a ``batch_id=...``-partitioned foreachBatch state dir
    (the neardup MinHash index / matches, the novelty gram index /
    scores) into ONE consolidated partition — the maintenance pass that
    keeps a long-running crawl stream's state from becoming a
    small-files pathology (one partition dir per batch, forever; scan
    tasks and listing pressure scale with FILE COUNT, not bytes).

    Returns the number of partitions absorbed (0 = nothing to do).
    Rows are untouched — only the partition layout changes, so every
    reader (``read_neardup_index`` etc., which drop the partition
    column) sees identical state. File count inside the consolidated
    partition is sized from the directory listing
    (``operators/layout.dir_size_bytes`` → ~``target_mb`` per file).

    Crash safety is the whole-tree swap (``io.sinks._full_swap``): the
    consolidated layout is staged and renamed in, so a crash at any
    point leaves either the old or the new complete layout, never a
    mix — every appender of the tree heals first, and every reader reads
    a marked staging in place.

    CONTRACT — quiescent streams only: run this between runs (or on a
    stopped stream). The consolidated partition key (``<label>-0``,
    never a valid ``<hex8>-N`` lineage key) is excluded by no retry,
    so compacting UNCOMMITTED batches would re-expose the
    retry-self-match hazard the per-batch exclusion closes; committed
    batches are exactly the ones a retry can never replay.
    """
    from token_etl_spark.io.sinks import _full_swap, _heal_full_swap, _read_existing
    from token_etl_spark.operators.layout import dir_size_bytes

    _heal_full_swap(spark, path)
    df = _read_existing(spark, path)
    if df is None or "batch_id" not in df.columns:
        return 0
    n_parts = df.select("batch_id").distinct().count()
    if n_parts <= 1:
        return 0
    n_files = max(1, -(-dir_size_bytes(spark, path) // (target_mb << 20)))
    compacted = df.drop("batch_id").repartition(n_files)
    _full_swap(spark, path, {f"batch_id={label}-0": compacted.write.parquet})
    return n_parts


def neardup_threshold_curve(spark: SparkSession, matches_path: str, step: float = 0.05):
    """Threshold-tuning curve over every pair the neardup stream has
    verified so far (``operators/dedup.dedup_threshold_curve`` on the
    accumulated matches state) — the live report a crawl-dedup owner
    watches to re-fit the Jaccard cutoff without a batch re-run. The
    matches state is already band-capped and linear-ish; the curve adds
    one combinable count plus a window over ≤ 1/step + 1 rows. Returns
    None before any match has been recorded."""
    from token_etl_spark.operators.dedup import dedup_threshold_curve

    pairs = read_neardup_matches(spark, matches_path)
    if pairs is None:
        return None
    return dedup_threshold_curve(
        pairs.select(
            F.col("id_new").alias("id_a"),
            F.col("id_ref").alias("id_b"),
            "jaccard",
        ),
        step=step,
    )


# ---------------------------------------------------------------------------
# streaming EMBEDDING near-dup against a persisted IVF index
# (the embedding counterpart of run_streaming_neardup — VERDICT r9 item 6)


def run_streaming_embedding_neardup(
    stream: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    threshold: float = 0.95,
    matches_path: str | None = None,
    checkpoint_path: str | None = None,
) -> None:
    """Streaming incremental EMBEDDING near-dup against a persisted IVF
    index (``operators/similarity.build_ivf_index``): each micro-batch
    ``ivf_search``-es the index for near-duplicate vectors (cosine ≥
    ``threshold`` within the top-k of the probed cells), appends
    verified (id_new, id_ref, cosine_sim) pairs to ``matches_path``
    (when given), and appends the batch's NOVEL vectors to their
    centroid cells so later batches deduplicate against everything
    already admitted — the crawl loop's semantic twin of the MinHash
    stream, riding the same retry-idempotent state machinery.

    Index layout contract:

    - ``{index_path}/centroids`` — the FROZEN quantizer, trained by
      ``build_ivf_index`` before the stream starts (IVF serving never
      retrains online; a drifted corpus gets a new index + backfill).
      Missing centroids raise: an untrained quantizer cannot assign.
    - ``{index_path}/assignments`` — the batch-built seed cells
      (optional; a stream may start from just a trained quantizer).
    - ``{index_path}/stream_assignments/batch_id=<lineage-key>/
      centroid_id=N`` — stream-admitted vectors, one partition per
      (checkpoint lineage, batch_id) exactly like the MinHash index, so
      foreachBatch RETRIES overwrite their own partition and
      CONTINUATION streams cannot clobber prior runs; within each batch
      partition the rows stay centroid-partitioned so serving reads
      keep their cell pruning.

    Match semantics mirror the MinHash twin: a batch vector matching an
    INDEXED vector is dropped; two near-dup vectors first seen in the
    SAME batch are both admitted (the matcher runs new-vs-index only).
    The search runs ``exclude_self=False`` (external-namespace serving),
    so a SAME-id re-delivery (at-least-once source) matches its own
    earlier index copy at cosine 1.0 and is correctly NOT re-admitted.
    Top-k bounds each vector's match list — a near-dup beyond the k
    nearest of the probed cells is missed, the standard IVF recall
    trade (raise k/n_probe for recall, see PERF.md).

    Stream≡batch equivalence and recrawl suppression are pinned in
    tests/test_streaming_dedup.py.
    """
    key = _lineage_keys(checkpoint_path)
    _drain(
        stream,
        lambda batch_df, batch_id: _embedding_neardup_sink_batch(
            batch_df,
            key(batch_id),
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            n_probe=n_probe,
            threshold=threshold,
            matches_path=matches_path,
        ),
        checkpoint_path,
    )


def _embedding_neardup_sink_batch(
    batch_df: DataFrame,
    key: str,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    threshold: float = 0.95,
    matches_path: str | None = None,
) -> None:
    """One micro-batch of :func:`run_streaming_embedding_neardup`
    (module-level so retry idempotency is unit-testable).

    The stream-assignments read EXCLUDES the batch's own partition
    (``batch_id != key``) — the same retry guard as the MinHash sink: a
    foreachBatch retry that crashed after writing its state partition
    but before the checkpoint commit must not match the batch against
    its own partial write (every vector would self-match at cosine 1.0
    and the partition would be overwritten EMPTY, losing the vectors)."""
    from token_etl_spark.io.sinks import _delete_dir, _heal_full_swap
    from token_etl_spark.operators.similarity import (
        _assign_to_centroids,
        ivf_search_frames,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    _heal_full_swap(spark, index_path)  # a writer heals before it reads
    cents = _read_quantizer(spark, index_path)
    # ONE canonical definition of "the index": the same reader the batch
    # pipeline uses, minus this batch's own partial write (retry guard)
    assigned = read_embedding_index(spark, index_path, exclude_key=key)

    if assigned is not None:
        hits = ivf_search_frames(
            cents.select("centroid_id", "centroid_vec"),
            assigned,
            batch_df,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
        )
        matches = (
            hits.filter(F.col("cosine_sim") >= threshold)
            .select(
                F.col("query_id").alias("id_new"),
                F.col("neighbor_id").alias("id_ref"),
                "cosine_sim",
            )
            .localCheckpoint(eager=True)
        )
        if matches_path is not None:
            _write_batch_partition(matches, matches_path, key)
        dup_ids = matches.select(F.col("id_new").alias(id_col)).distinct()
        # eager checkpoint: the emptiness probe below and the partition
        # write both consume novel — without it the anti-join runs twice
        # per batch (r11 review)
        novel = batch_df.join(dup_ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
    else:
        novel = batch_df

    own_dir = f"{index_path.rstrip('/')}/stream_assignments/batch_id={key}"
    if novel.isEmpty():
        # A fully-deduplicated batch must NOT write its partition:
        # partitionBy on an empty frame emits a dir holding only
        # _SUCCESS (no data files, no partition subdirs), and if that
        # is the only stream partition the next batch's index read —
        # and every retry's — dies with UNABLE_TO_INFER_SCHEMA,
        # permanently wedging the stream (ADVICE r10, reproduced with
        # an all-recrawl first batch against a batch-built seed).
        # Delete any prior partial write under this key instead (a
        # retry whose first attempt admitted rows before crashing must
        # still converge to the recomputed empty state).
        _delete_dir(spark, own_dir)
        return
    base = novel.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    new_rows = _assign_to_centroids(
        base, F.broadcast(cents.select("centroid_id", "centroid_vec")), "cv", False
    )
    new_rows.write.mode("overwrite").partitionBy("centroid_id").parquet(own_dir)


def _read_quantizer(spark: SparkSession, index_path: str) -> DataFrame:
    """The index's frozen quantizer, or a ValueError naming the remedy —
    shared by the sink and the health report so the layout and the
    error contract can never drift between them. Reads an interrupted
    whole-tree swap of the index in place (``io.sinks._committed_tree``:
    a build or rebuild cut between the final-dir delete and the rename
    leaves the whole index in a marked staging — read around, this
    would misread as "no quantizer")."""
    from token_etl_spark.io.sinks import _committed_tree, _read_existing

    root = _committed_tree(spark, index_path)
    cents = _read_existing(spark, f"{root.rstrip('/')}/centroids")
    if cents is None:
        raise ValueError(
            f"no trained quantizer at {index_path}/centroids — run "
            "build_ivf_index (or persist spherical_kmeans centroids) before "
            "starting the embedding near-dup stream"
        )
    return cents


def read_embedding_index(
    spark: SparkSession, index_path: str, exclude_key: str | None = None
) -> DataFrame | None:
    """The combined serving assignments — batch-built seed cells plus
    every stream-admitted vector (partition column dropped) — in exactly
    the shape ``ivf_search_frames`` consumes. None iff neither exists.
    ``exclude_key`` drops one stream batch's partition (the sink's retry
    guard); the sink calls through here so the serving read and the
    batch pipeline's read are the same definition of "the index".
    Reads an interrupted whole-tree swap of the index in place, like
    :func:`_read_quantizer`."""
    from token_etl_spark.io.sinks import _committed_tree, _read_existing

    root = _committed_tree(spark, index_path).rstrip("/")
    seed = _read_existing(spark, f"{root}/assignments")
    streamed = _read_partitioned_state(
        spark, f"{root}/stream_assignments", exclude_key=exclude_key
    )
    parts = [
        p.select("corpus_id", "cv", "centroid_id")
        for p in (seed, streamed)
        if p is not None
    ]
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def read_embedding_matches(spark: SparkSession, matches_path: str) -> DataFrame | None:
    """All verified (id_new, id_ref, cosine_sim) pairs appended so far."""
    return _read_partitioned_state(spark, matches_path)


def embedding_index_health(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Cell-occupancy report over the COMBINED embedding index (seed +
    every stream-admitted vector): ``operators/similarity.ivf_cell_stats``
    against the index's own frozen quantizer. The maintenance loop for a
    long-running crawl stream: per-batch search cost grows with the
    hottest cell (measured in PERF.md "streaming embedding near-dup
    growth probe"), and a max imbalance well above 1.0 is the signal to
    retrain the quantizer (``build_ivf_index`` on the admitted corpus)
    and restart the stream against the new index. None iff the index
    has no assignments yet — including assignment dirs that exist but
    hold zero rows (an empty index would otherwise divide by a zero
    total and return NaN-filled rows instead of the documented None)."""
    from token_etl_spark.operators.similarity import ivf_cell_stats

    cents = _read_quantizer(spark, index_path)
    assigned = read_embedding_index(spark, index_path)
    if assigned is None or assigned.isEmpty():
        return None
    return ivf_cell_stats(assigned, cents)


def rebuild_ivf_index(
    spark: SparkSession,
    index_path: str,
    n_centroids: int | None = None,
    refine_iters: int = 2,
) -> int:
    """Retrain the embedding index's quantizer over EVERYTHING it holds
    (batch-built seed cells + every stream-admitted vector), re-assign
    all vectors to the new centroids, and atomically swap the rebuilt
    index in — the LEVER the ``embedding_index_health`` observable
    triggers (VERDICT r10 item 2): the growth probe (PERF.md) shows
    per-batch stream cost following the hottest cell of a FIXED
    quantizer, and until now the report could only say "retrain" with
    no action to take.

    After the rebuild, ``{index_path}/assignments`` holds the ENTIRE
    admitted corpus re-partitioned by the new cells and
    ``stream_assignments`` is gone (absorbed) — so the rebuild is also
    the compaction pass for the per-batch partition splay. A CONTINUING
    stream (same checkpoint, new source files) picks the new quantizer
    up on its next batch automatically: the sink re-reads
    ``{index_path}/centroids`` every batch, and its index read unions
    the rebuilt assignments with the (now empty) stream dir. Matches
    state (``matches_path``) is untouched — recorded pairs stay valid;
    they were verified by exact cosine, not by any cell geometry.

    Commit protocol: the retrain is ``build_ivf_index`` over the combined
    index, so the new ``centroids`` + ``assignments`` commit through its
    whole-tree swap (``io.sinks._full_swap``): a crash mid-staging
    leaves the live index untouched, and the one non-atomic window
    (final deleted, marked staging present) is read in place by every
    reader of the index and healed by its next writer.

    CONTRACT — quiescent streams only (same as compaction): run between
    runs or on a stopped stream. A rebuild racing a live batch could
    absorb that batch's UNCOMMITTED partition into ``assignments``,
    where the retrying sink's own-partition exclusion can no longer
    see it — re-exposing the retry self-match hazard.

    ``n_centroids=None`` keeps the current trained cell count. Returns
    the number of vectors re-indexed. Training is deterministic
    (``spherical_kmeans`` — init is the n smallest corpus ids), so a
    crashed-and-retried rebuild converges to the identical index.
    """
    from token_etl_spark.io.sinks import _heal_full_swap
    from token_etl_spark.operators.similarity import build_ivf_index

    _heal_full_swap(spark, index_path)  # a writer heals before it reads
    if n_centroids is None:
        n_centroids = _read_quantizer(spark, index_path).count()
    combined = read_embedding_index(spark, index_path)
    if combined is None:
        raise ValueError(
            f"embedding index at {index_path} has no assignments to rebuild"
            " from — build_ivf_index a seed corpus or admit a batch first"
        )
    build_ivf_index(
        combined.select("corpus_id", "cv"),
        index_path,
        n_centroids=n_centroids,
        refine_iters=refine_iters,
        id_col="corpus_id",
        vec_col="cv",
    )
    return spark.read.parquet(f"{index_path.rstrip('/')}/assignments").count()
