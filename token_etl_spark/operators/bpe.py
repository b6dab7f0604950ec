"""Distributed BPE (byte-pair-encoding) vocabulary induction — learning
a subword merge table from the corpus, the tokenizer-training step of an
LLM data pipeline (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units", ACL).

No reference analog. The key scale decision: train on the DISTINCT-WORD
FREQUENCY TABLE, not the corpus. One corpus-wide shuffle builds
(word, count); every Lloyd-style merge iteration after that touches only
the vocabulary — bounded by distinct words, not corpus bytes — which is
how production BPE trainers (subword-nmt, HuggingFace) are structured.
Per iteration: adjacent-pair counts (map-side combinable, weighted by
word count), a deterministic argmax (count DESC, pair ASC — ties never
depend on partitioning), and a per-word greedy left-to-right merge fold.
Both the argmax frame (1 row) and the rewritten vocabulary are
``localCheckpoint``-ed per iteration (the spherical_kmeans pattern) so
lineage stays flat across ``n_merges``.

Everything is integer counts and exact string ops — no float anywhere —
so the DuckDB oracle (plans/quality.py SQL_BPE_MERGES: the training loop
unrolled CTE-per-iteration, with the greedy fold as a ``list_reduce``
over a space-joined symbol string) replays the merge table exactly.

Pair counting uses every adjacent position (overlapping occurrences
count), the subword-nmt convention; the merge REWRITE is greedy
left-to-right non-overlapping, also the standard semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from token_etl_spark.operators.text import tokens


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the tokenized corpus — the one corpus-wide
    shuffle of BPE training."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _chars(word: Column) -> Column:
    """Initial symbol array: one single-character symbol per position."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )


def merge_fold(syms: Column, left: Column, right: Column) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol pairs:
    fold each symbol onto the accumulator, fusing when the accumulator's
    last element is ``left`` and the incoming symbol is ``right``. A
    fused symbol is never re-fused in the same pass (non-overlapping),
    matching the reference BPE rewrite and the oracle's ``list_reduce``.
    """
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(left, right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _adjacent_pairs(vocab: DataFrame) -> DataFrame:
    """(l, r, c): weighted adjacent-pair counts over the (word, cnt,
    syms) vocabulary frame. Single-symbol words contribute nothing."""
    idx = F.when(
        F.size("syms") > 1, F.sequence(F.lit(1), F.size("syms") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col("syms"), i).alias("l"),
            F.element_at(F.col("syms"), i + 1).alias("r"),
        ),
    )
    return (
        vocab.select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table (merge_idx, left_sym, right_sym, pair_count) in learning
    order — the artifact a tokenizer applies (see :func:`bpe_encode`).

    May return FEWER than ``n_merges`` rows: once every word is a single
    symbol there are no adjacent pairs left, and the loop stops at the
    corpus's natural merge count instead of letting an empty ``best``
    frame cross-join the vocabulary away (which silently emptied both
    the vocab and the remaining merge rows). The eager per-iteration
    checkpoint makes the emptiness probe free — ``best`` is already
    materialized.
    """
    vocab = (
        word_counts(docs, text_col)
        .select("word", "cnt", _chars(F.col("word")).alias("syms"))
        .localCheckpoint(eager=False)
    )
    merges = []
    for i in range(1, n_merges + 1):
        best = (
            _adjacent_pairs(vocab)
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        if best.isEmpty():
            break
        merges.append(
            best.select(
                F.lit(i).cast("long").alias("merge_idx"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("c").alias("pair_count"),
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(
                "word",
                "cnt",
                merge_fold(F.col("syms"), F.col("l"), F.col("r")).alias("syms"),
            )
            .localCheckpoint(eager=True)
        )
    if not merges:  # every word already a single symbol
        return docs.sparkSession.createDataFrame(
            [], "merge_idx long, left_sym string, right_sym string, pair_count long"
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table: (id, word, pieces) — each token's
    subword segmentation after replaying the merges in learning order.

    The merge table is METADATA-scale (``n_merges`` rows, bounded by
    construction), so it is collected once and compiled into a chain of
    ``merge_fold`` expressions — one narrow whole-stage-codegen'd
    projection over the corpus, no join, no shuffle, no per-row Python.

    VIABILITY BOUND: the compiled expression tree is linear in
    ``n_merges`` and Catalyst analysis/codegen cost grows with it —
    fine at the declared gate sizes (6-16) and usable to the low
    hundreds, but a production 32k-merge vocabulary must use
    :func:`bpe_encode_table` (measured curve in PERF.md; the two are
    equivalence-pinned in tests/test_bpe.py).
    """
    ordered = [
        (r["left_sym"], r["right_sym"])
        for r in merges.orderBy("merge_idx").collect()
    ]
    expr = _chars(F.col("word"))
    for l, r in ordered:
        expr = merge_fold(expr, F.lit(l), F.lit(r))
    return df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("word")
    ).select("id", "word", expr.alias("pieces"))


def _encode_word(word: str, rank: dict) -> list[str]:
    """Python replay of the ``merge_fold`` chain for ONE word: repeatedly
    pick the present pair with the lowest merge rank and fuse every
    occurrence greedily left-to-right (one pass eliminates all
    occurrences — fusing creates only pairs involving the new symbol,
    never a fresh occurrence of the fused pair). For a well-formed merge
    table (every merge's symbols built by strictly earlier merges —
    bpe_train's invariant) this is exactly equivalent to applying the
    merges in learning order, because fusing pair k can never create an
    occurrence of a pair with rank < k; equivalence is pinned against
    the compiled chain in tests/test_bpe.py."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        for i in range(len(syms) - 1):
            rk = rank.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank = rk
                best = (syms[i], syms[i + 1])
        if best_rank is None:
            return syms
        l, r = best
        out: list[str] = []
        for x in syms:
            if out and out[-1] == l and x == r:
                out[-1] = l + r
            else:
                out.append(x)
        syms = out
    return syms


def bpe_encode_table(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-table BPE encode — the REALISTIC-scale path for merge
    tables where :func:`bpe_encode`'s compiled expression chain stops
    being viable (thousands of merges; see PERF.md for the measured
    crossover). Same output schema and values: (id, word, pieces).

    Shape: encode the DISTINCT-WORD table once (vocabulary-bounded — the
    same insight that makes ``bpe_train`` corpus-size-independent after
    its first shuffle), via an Arrow-batched ``mapInPandas`` running the
    rank-greedy merge loop per distinct word, then join the segmentation
    back to the exploded corpus on ``word``. At 100 TB the per-word
    Python cost is amortized over every corpus occurrence (the
    vocabulary is millions of rows; the corpus is trillions of tokens),
    the encode of the vocab frame is embarrassingly parallel, and the
    join back is a plain equi-join on word — broadcastable whenever the
    segmented vocabulary fits, a shuffle join otherwise. The merge table
    itself stays driver-side metadata (32k rows) shipped to executors in
    the closure, exactly like a tokenizer file.
    """
    ordered = [
        (r["left_sym"], r["right_sym"])
        for r in merges.orderBy("merge_idx").collect()
    ]
    rank = {pair: i for i, pair in enumerate(ordered)}

    words = df.select(F.explode(tokens(text_col)).alias("word")).distinct()

    def enc(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["pieces"] = [_encode_word(w, rank) for w in pdf["word"]]
            yield pdf

    vocab_pieces = words.mapInPandas(enc, schema="word string, pieces array<string>")
    corpus = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("word")
    )
    return corpus.join(vocab_pieces, "word").select("id", "word", "pieces")
