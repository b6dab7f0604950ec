"""Text-analysis operators for a training-data pipeline (BASELINE.json
north star; no reference analog — new capability, designed Spark-native).

Everything here is built-in-function only (whole-stage codegen, no Python
boundary): tokenization via split/regexp, quality stats via size/length
arithmetic, language-ID via stopword-set intersection, fingerprints via
md5 (order-insensitive) and a native rolling polynomial hash
(F.aggregate over the token array — Java long overflow wraps, so the
hash is deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword heuristic.
# Deliberately small + hard-coded so the DuckDB oracle can repeat them.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "les", "de", "et", "un", "une"],
}


def _tokens_sql(text: str) -> str:
    """SQL text of the tokenizer over the SQL expression ``text``."""
    return (
        rf"filter(split(trim(regexp_replace(lower({text}), '[^a-z0-9\\s]', ' ')), "
        rf"'\\s+'), x -> x != '')"
    )


def tokens(text_col: str) -> Column:
    """Whitespace+punctuation tokenizer of the column ``text_col``:
    lowercase, strip non-alnum, split on runs of whitespace, drop
    empties. One parsed expression (a fixed few py4j round trips)."""
    return F.expr(_tokens_sql(f"`{text_col}`"))


def token_count(text_col: str) -> Column:
    return F.size(tokens(text_col))


def quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: char len, token count, mean token
    length, alpha ratio, stopword ratio — the standard cheap filters a
    pretraining pipeline applies before expensive dedup.

    The token array is materialized into a column once and every metric
    reads it — expressions containing higher-order lambdas are opaque to
    Spark's subexpression elimination, so repeating ``tokens(...)`` per
    output column would re-run the regex split per metric. Each metric
    is one parsed expression.
    """
    c = f"`{text_col}`"
    # distinct-token array bound once (cross-column-CSE rule, see
    # extract_html_text): the stopword ratio reads it twice
    with_toks = df.withColumn("_toks", tokens(text_col)).withColumn(
        "_dtoks", F.expr("array_distinct(_toks)")
    )
    stopwords = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return with_toks.withColumns(
        {
            "char_len": F.expr(f"length({c})"),
            "n_tokens": F.expr("size(_toks)"),
            "mean_token_len": F.expr(
                "CASE WHEN size(_toks) > 0 THEN CAST(aggregate(_toks, 0, "
                "(x, y) -> x + length(y)) AS DOUBLE) / size(_toks) ELSE 0.0D END"
            ),
            "alpha_ratio": F.expr(
                f"length(regexp_replace({c}, '[^A-Za-z]', '')) "
                f"/ CAST(greatest(length({c}), 1) AS DOUBLE)"
            ),
            "stopword_ratio_en": F.expr(
                f"size(array_intersect(_dtoks, array({stopwords}))) "
                "/ greatest(size(_dtoks), 1)"
            ),
        }
    ).drop("_toks", "_dtoks")


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals used by pretraining quality filters:
    type-token ratio (distinct/total tokens — low means repetitive) and
    top-token share (most frequent token's fraction — high means
    degenerate repetition).

    Computed via explode + two keyed aggregations instead of per-row
    array lambdas: both shuffles key on (doc, token) / doc and map-side
    combine, so the plan scales with corpus size, not document length.
    Zero-token documents drop out (same as the explode in the oracle).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    counts = tok.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    return counts.groupBy(id_col).agg(
        (F.count("*") / F.sum("c")).alias("type_token_ratio"),
        (F.max("c") / F.sum("c")).alias("top_token_share"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: score every language's stopword
    set against the distinct-token set; predict the argmax, 'und'
    (undetermined) when no set scores > 0. Deterministic tie-break by
    language code order (en < de < es < fr resolved alphabetically:
    de, en, es, fr)."""
    with_toks = df.withColumn("_dtoks", F.array_distinct(tokens(text_col)))
    toks = F.col("_dtoks")
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in STOPWORDS.items()
    }
    # argmax with alphabetical tie-break: visit languages sorted, strictly-greater wins
    pred = F.lit("und")
    best = F.lit(0)
    for lang in sorted(STOPWORDS):
        s = scores[lang]
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, s)
    out = with_toks.withColumn("lang_pred", pred)
    for lang in sorted(STOPWORDS):
        out = out.withColumn(f"score_{lang}", scores[lang])
    return out.drop("_dtoks")


#: BPE-ish piece pattern: alnum runs OR single non-alnum-non-space marks.
#: Kept to a dialect-portable subset (works identically in Java regex and
#: DuckDB's RE2) so the oracle can repeat it.
BPE_PIECE_PATTERN = "[a-z0-9]+|[^a-z0-9\\s]"


def token_estimate(text: Column | str) -> Column:
    """LLM-token-count estimator: count BPE-ish pieces, then apply the
    ~4-chars-per-token correction for long alnum runs (a cheap stand-in
    for a real tokenizer — monotone with it, deterministic, JVM-side)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    pieces = F.regexp_extract_all(c, F.lit(BPE_PIECE_PATTERN), 0)
    # long words split into ceil(len/4) subword pieces
    per_piece = F.transform(
        pieces, lambda p: F.ceil(F.length(p) / F.lit(4.0)).cast("long")
    )
    return F.aggregate(per_piece, F.lit(0).cast("long"), lambda acc, x: acc + x)


#: Rule names in evaluation order — the reject-reason string is the
#: '|'-join of every failed rule, in this fixed order, so it is
#: deterministic and oracle-portable.
GOPHER_RULES = (
    "too_few_words",
    "too_many_words",
    "mean_word_len_low",
    "mean_word_len_high",
    "symbol_ratio_high",
    "too_few_stopwords",
)


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 1,
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1, public
    heuristics): word-count bounds, mean-word-length band, symbol-to-word
    ratio, and a minimum stopword presence. Adds per-signal columns, a
    ``reject_reasons`` string ('|'-joined failed rules in GOPHER_RULES
    order, '' when clean) and ``keep``.

    Everything is built-in expressions over one materialized token array
    (a single projection, whole-stage codegen'd, no shuffle) — at 100 TB
    this runs at scan speed and is exactly the kind of cheap pre-filter
    that belongs BEFORE any shuffle-bearing dedup stage.
    """
    c = F.col(text_col)
    out = df.withColumn("_toks", tokens(text_col))
    toks = F.col("_toks")
    n = F.size(toks)
    mean_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n,
    ).otherwise(F.lit(0.0))
    symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), 0))
    sym_ratio = symbols.cast("double") / F.greatest(n, F.lit(1))
    hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        )
    )
    out = out.withColumns(
        {
            "n_words": n.cast("long"),
            "mean_word_len": mean_len,
            "symbol_ratio": sym_ratio,
            "stopword_hits": hits.cast("long"),
        }
    ).drop("_toks")
    fails = {
        "too_few_words": F.col("n_words") < min_words,
        "too_many_words": F.col("n_words") > max_words,
        "mean_word_len_low": F.col("mean_word_len") < min_mean_word_len,
        "mean_word_len_high": F.col("mean_word_len") > max_mean_word_len,
        "symbol_ratio_high": F.col("symbol_ratio") > max_symbol_ratio,
        "too_few_stopwords": F.col("stopword_hits") < min_stopword_hits,
    }
    reasons = F.concat(
        *[
            F.when(fails[r], F.array(F.lit(r))).otherwise(
                F.array().cast("array<string>")
            )
            for r in GOPHER_RULES
        ]
    )
    return out.withColumn("reject_reasons", F.array_join(reasons, "|")).withColumn(
        "keep", F.col("reject_reasons") == ""
    )


def line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    blocklist: tuple[str, ...] = ("javascript", "lorem ipsum", "{"),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, public
    heuristics): within each document keep only lines that end in
    terminal punctuation, have ≥ ``min_words`` words, and contain no
    blocklisted phrase. Adds ``cleaned`` (the surviving lines re-joined),
    ``n_lines`` and ``n_kept``.

    The per-line loop is an array lambda (`F.filter` over the
    split-on-newline array), NOT an explode + re-aggregate: no shuffle,
    no row-count blowup, and document boundaries never leave the row —
    the whole operator is one codegen'd projection, which is what you
    want when the corpus is 100 TB and the mean document has 50 lines.
    """
    c = F.col(text_col)
    lines = F.split(c, "\n")

    def keep_line(line: Column) -> Column:
        ok = F.size(F.split(F.trim(line), r"\s+")) >= min_words
        ok = ok & line.endswith(".")
        low = F.lower(line)
        for phrase in blocklist:
            ok = ok & ~low.contains(phrase.lower())
        return ok

    kept = F.filter(lines, keep_line)
    return df.withColumns(
        {
            "n_lines": F.size(lines).cast("long"),
            "n_kept": F.size(kept).cast("long"),
            "cleaned": F.array_join(kept, "\n"),
        }
    )


def line_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document line deduplication (RefinedWeb/Gopher-style
    repetition removal, public heuristics): within each document keep
    only the FIRST occurrence of each line, compared case- and
    whitespace-insensitively, preserving original line text and order.
    Adds ``n_lines``, ``n_unique`` and ``deduped`` (survivors re-joined).

    Like ``line_filter`` this is pure array lambdas — no explode, no
    shuffle, document boundaries never leave the row; one codegen'd
    projection over a 100 TB corpus. Keep-first is
    ``array_position(normalized, norm(line)) == index+1`` — first
    occurrence of a line's normal form is at its own index. Worst case
    O(lines²) per document, which is the right trade against an explode
    + window + re-aggregate (two shuffles) at typical line counts.
    """
    c = F.col(text_col)
    lines = F.split(c, "\n")
    normed = F.transform(lines, lambda l: F.trim(F.lower(l)))
    kept = F.filter(
        lines,
        lambda l, i: F.array_position(normed, F.trim(F.lower(l))) == i + F.lit(1),
    )
    return df.withColumns(
        {
            "n_lines": F.size(lines).cast("long"),
            "n_unique": F.size(kept).cast("long"),
            "deduped": F.array_join(kept, "\n"),
        }
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking (RAG indexing / context-window
    prep): one output row per ``chunk_tokens``-token window advancing by
    ``chunk_tokens - overlap``. Short documents yield exactly one chunk;
    the final chunk is the ragged tail (``n_tokens`` < chunk_tokens).

    Output: ``id_col, chunk_id, start_tok, n_tokens, chunk_text``.

    The window enumeration is an array transform + one explode — a
    narrow per-row generator, no shuffle, no Python boundary. Output row
    count ≈ corpus_tokens / stride regardless of document length, so the
    operator scales with data volume, not document count; at 100 TB the
    explode feeds straight into the downstream embed/write stage without
    ever materializing per-document state.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    with_toks = df.withColumn("_toks", toks)
    n = F.size("_toks")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("long") + 1
    )
    windows = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * stride).alias("start_tok"),
            F.least(n.cast("long") - i * stride, F.lit(chunk_tokens).cast("long")).alias(
                "n_tokens"
            ),
            F.array_join(F.slice(F.col("_toks"), (i * stride + 1).cast("int"), chunk_tokens), " ").alias(
                "chunk_text"
            ),
        ),
    )
    return (
        with_toks.select(F.col(id_col), F.explode(windows).alias("_c"))
        .select(id_col, "_c.chunk_id", "_c.start_tok", "_c.n_tokens", "_c.chunk_text")
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    mask_bits: int = 5,
    prime: int = 31,
) -> DataFrame:
    """Content-defined chunking: cut a document where the polynomial
    rolling hash of its last ``window`` characters satisfies
    ``H % 2**mask_bits == 0`` — the boundary rule of Rabin-style CDC
    (Muthitacharoen, Chen & Mazières 2001, SOSP, "A low-bandwidth
    network file system", §3.1). Boundaries depend only on LOCAL
    content, so an insertion or deletion re-chunks O(1) neighboring
    chunks instead of shifting every fixed-size window downstream —
    chunk-hash dedup across document REVISIONS (recrawled pages, wiki
    dumps, incremental corpus snapshots) survives edits that break
    ``chunk_documents``'s fixed windows entirely.

    ``H(i) = Σ_{j<window} code(char_{i-j}) · prime^j`` over Unicode
    codepoints — integer-exact (max |H| ≈ 2^58 at full codepoint range,
    no modular reduction needed mid-sum), so the DuckDB oracle replays
    boundaries bit-for-bit. Expected chunk length ≈ 2**mask_bits chars.
    A document shorter than ``window`` is one chunk; boundaries at the
    final position are folded into the last chunk (cuts are kept
    strictly < n, so no empty tail chunk and no order-fragile
    de-duplication of the cut list).

    Returns (``id_col``, chunk_idx, chunk_len, chunk_hash) — one row
    per chunk, ``chunk_hash = md5(chunk_text)`` ready for exact-match
    dedup across snapshots. Narrow per-row array work + one explode
    (the ``chunk_documents`` scale shape): each stage's array is
    materialized as a COLUMN before the next stage's lambda consumes it
    (the standing no-CSE rule — the hash stage reads the codes array
    ``window`` times per position, which must not re-run the codepoint
    extraction).

    This is the declared, fully-oracled variant (pure mask rule). A
    production min/max chunk-size clamp is a greedy sequential scan
    over the cut positions — stateful, so it belongs in the same
    mapInPandas tier as BPE encode if ever needed; the unclamped rule
    is what the dedup use case needs (clamps only bound storage skew).
    """
    text = F.col(text_col)
    n = F.length(text)
    mask = (1 << mask_bits) - 1  # H % 2^bits == 0  <=>  H & mask == 0
    powers = [prime**j for j in range(window)]

    staged = df.withColumn("_n", n)
    # stage 1: codepoints — ONE split pass, not per-position substr
    # (substr(i, 1) rescans the string from byte 0 for multibyte safety,
    # so a positional loop is O(n²) per document; measured 23 s vs 4 s
    # at sf0.001). Guarded: split('', '') yields [''] not [].
    codes = F.when(
        F.col("_n") >= 1,
        F.transform(F.split(text, ""), lambda c: F.ascii(c)),
    ).otherwise(F.array().cast("array<int>"))
    # HARD barrier, not just a select: CollapseProject inlines the codes
    # transform into the boundary filter's lambda (the alias-preserving
    # heuristic does not see the 8 element_at references inside the
    # lambda body), and every inlined element_at re-evaluates the WHOLE
    # per-char extraction — O(n^4) per document, a multi-minute stall at
    # 500 ×  500-char docs (fifth no-CSE instance; measured). The frame
    # is a pure narrow map, so the lazy localCheckpoint is plan-build
    # job-free (the plan-hygiene gate class).
    staged = staged.withColumn("_codes", codes).localCheckpoint(eager=False)
    # stage 2: boundary positions (cuts), strictly < n
    def _h(i):
        acc = None
        for j, p in enumerate(powers):
            term = F.element_at("_codes", (i - F.lit(j)).cast("int")).cast("long") * F.lit(p)
            acc = term if acc is None else acc + term
        return acc

    cuts = F.when(
        F.col("_n") >= window,
        F.filter(
            F.sequence(F.lit(window), F.col("_n")),
            lambda i: (_h(i) % F.lit(mask + 1) == 0) & (i < F.col("_n")),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # second barrier, same reason: the segs stage references the cut
    # list ~6× per chunk (size + element_at pairs + the substr bounds);
    # inlined, each reference re-runs the whole boundary filter —
    # measured 25 s vs 4 s at sf0.001. _codes is dropped first so the
    # stored blocks hold only (text, _n, _cuts). Still a pure narrow
    # map over the first checkpoint: plan-build job-free.
    staged = (
        staged.withColumn("_cuts", cuts).drop("_codes").localCheckpoint(eager=False)
    )
    # stage 3: cut list -> (idx, start, len) structs -> explode
    cuts2 = F.concat(
        F.array(F.lit(0)), F.col("_cuts"), F.array(F.col("_n").cast("int"))
    )
    staged = staged.withColumn("_cuts2", cuts2)
    segs = F.when(
        F.size("_cuts2") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_cuts2") - 1),
            lambda k: F.struct(
                (k - 1).cast("long").alias("chunk_idx"),
                (
                    F.element_at("_cuts2", k.cast("int") + 1)
                    - F.element_at("_cuts2", k.cast("int"))
                ).cast("long").alias("chunk_len"),
                F.md5(
                    text.substr(
                        F.element_at("_cuts2", k.cast("int")) + 1,
                        F.element_at("_cuts2", k.cast("int") + 1)
                        - F.element_at("_cuts2", k.cast("int")),
                    )
                ).alias("chunk_hash"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<chunk_idx:long,chunk_len:long,chunk_hash:string>>"))
    return (
        staged.withColumn("_segs", segs)
        .select(F.col(id_col), F.explode("_segs").alias("_s"))
        .select(id_col, "_s.chunk_idx", "_s.chunk_len", "_s.chunk_hash")
    )


#: Modulus of the rolling fingerprint: 2^56, so every fold step stays
#: inside int64 under ANSI arithmetic — acc < 2^56 ⇒ acc*31 + murmur3
#: < 2^61 + 2^31, no overflow. The unreduced acc*31 + hash fold
#: overflowed long on ANY document beyond ~13 tokens (ANSI multiply
#: THROWS instead of wrapping — one ordinary document kills the task;
#: it survived in the declared query only because fp_rolling is pruned
#: there; found by the r10 adversarial-string fuzz).
_ROLLING_MOD = 1 << 56


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:

    - ``fp_set``: md5 over the sorted distinct token set (order- and
      multiplicity-insensitive; survives word shuffling) — SQL-portable.
    - ``fp_rolling``: polynomial rolling hash pmod(acc*31 +
      murmur3(token), 2^56) over the token sequence (order-sensitive) —
      native fold, engine-canonical (not oracle-portable: murmur3 seed
      differs per engine). The explicit modulus is load-bearing: Java's
      polynomial hashes rely on silent wrap-around, but ANSI-mode Spark
      THROWS on long overflow, so the unreduced fold crashes on any
      document longer than ~13 tokens.

    FORMAT BREAK (r10): the mod-2^56 reduction changes ``fp_rolling``
    for documents that previously computed without overflow (≤ ~13
    tokens). Persisted ``fp_rolling`` state written by earlier rounds
    does not compare equal across the upgrade — recompute it. ``fp_set``
    is unchanged.
    """
    toks = tokens(text_col)
    sorted_set = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(31).cast("long") + F.hash(t).cast("long"),
            F.lit(_ROLLING_MOD).cast("long"),
        ),
    )
    return df.withColumn("fp_set", F.md5(sorted_set)).withColumn("fp_rolling", rolling)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    "Winnowing: local algorithms for document fingerprinting", SIGMOD —
    the MOSS algorithm): hash every ``k``-token shingle, slide a
    ``window``-wide window over the hash sequence, and select each
    window's MINIMUM hash (ties to the RIGHTMOST position — the paper's
    rule, which makes selections consistent between overlapping
    windows). The selected set is a deterministic, position-aware
    fingerprint with the guarantee that any shared token run of length
    ``window + k - 1`` between two documents yields at least one shared
    selected fingerprint — the local-containment property plain MinHash
    lacks (MinHash is whole-document; winnowing localizes matches).

    Returns (id, pos, fp): the 1-based token position and 60-bit hash of
    every selected shingle (distinct per doc — adjacent windows usually
    select the same minimum; the density guarantee is 2/(window+1)).

    Portability: the shingle hash is the repo's md5-hex-prefix integer
    (first 15 hex digits → 60-bit positive BIGINT), so the DuckDB oracle
    replays selections bit-for-bit. 100 TB shape: entirely NARROW — one
    projection with per-row array ops (no explode-then-window, no
    shuffle); a document's cost is O(tokens × window), and the output is
    ~2/(window+1) of its shingles. Short docs (fewer shingles than the
    window) yield their single global minimum; docs under ``k`` tokens
    yield nothing."""
    # Each stage's array is MATERIALIZED as a column before the next
    # stage's lambda captures it (the PERF.md no-CSE rule: a lambda may
    # only capture O(1)-evaluation references — an inline `grams`
    # expression would re-evaluate inside every window lambda, turning
    # the selection into O(tokens²) md5 calls per document; measured as
    # a multi-minute stall on sf0.1's longer documents).
    tk = F.col("_tk")
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_tk")
    ).where(F.size(tk) >= k)
    gram = lambda i: F.array_join(F.slice(tk, i, k), " ")  # noqa: E731
    h = lambda i: F.conv(F.substring(F.md5(gram(i)), 1, 15), 16, 10).cast("long")  # noqa: E731
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - F.lit(k - 1)),
        lambda i: F.struct(h(i).alias("h"), (-i).alias("np"), i.cast("int").alias("p")),
    )
    gr = F.col("_gr")
    with_grams = base.select("id", grams.alias("_gr"))
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(gr) - F.lit(window - 1), F.lit(1))),
            lambda j: F.array_min(F.slice(gr, j, window)),
        )
    )
    # array_distinct already dedupes repeated selections (same (h,np,p)
    # struct chosen by adjacent windows), so no shuffle-bearing DISTINCT
    # is needed after the explode — the plan stays a single narrow map
    return (
        with_grams.select("id", F.explode(selected).alias("_s"))
        .select("id", F.col("_s.p").alias("pos"), F.col("_s.h").alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    threshold: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = None,
) -> DataFrame:
    """MOSS-style local-overlap detection over winnowed fingerprints
    (the application Schleimer et al. built winnowing FOR): two
    documents sharing any token run of ``window + k - 1`` words share a
    selected fingerprint, so joining on the fingerprint value finds
    localized copying — boilerplate headers, quoted passages, partial
    plagiarism — that whole-document Jaccard dilutes below its
    threshold. Returns (id_a, id_b, n_shared, n_a, n_b, overlap) for
    pairs with ``overlap >= threshold``, where overlap = |shared| /
    min(|fps_a|, |fps_b|) — containment of the smaller fingerprint set,
    the MOSS ranking statistic.

    100 TB shape: the fingerprint frame is ~2/(window+1) of the shingle
    volume (winnowing is the sampler), the join key is a 60-bit hash —
    selective on natural text; corpus-wide boilerplate makes a hot
    fingerprint, and ``max_fp_df`` turns that quadratic bucket into a
    loud in-plan failure (the ``_cap_bucket_size`` discipline). Shared
    counts shuffle once on fp, the per-pair aggregate once on the pair —
    both bounded by true match volume, never all-pairs.
    """
    from pyspark.sql import Window

    fps = (
        winnow_fingerprints(df, k, window, text_col, id_col)
        .select("id", "fp")
        .distinct()
    )
    # carry each doc's fingerprint count as a WINDOW over the distinct
    # frame instead of a separate sizes aggregate joined back twice:
    # both join sides then share one identical subtree (scan → distinct
    # → window), which Spark executes once and wires in as a
    # ReusedExchange — one corpus pass instead of three
    fpn = fps.withColumn("n", F.count("*").over(Window.partitionBy("id")))
    if max_fp_df is not None:
        from token_etl_spark.operators.dedup import _cap_bucket_size

        fpn = _cap_bucket_size(
            fpn,
            ["fp"],
            max_fp_df,
            "winnow-overlap fingerprint",
            advice="corpus-wide boilerplate saturates this fingerprint; strip "
            "it upstream (line_dedup) or raise max_fp_df explicitly.",
        )
    a = fpn.select(F.col("id").alias("id_a"), "fp", F.col("n").alias("n_a"))
    b = fpn.select(F.col("id").alias("id_b"), "fp", F.col("n").alias("n_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.min("n_a").alias("n_a"),  # constant per id — min is exact
            F.min("n_b").alias("n_b"),
        )
        .withColumn(
            "overlap",
            F.col("n_shared") / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
        )
        .where(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", "overlap")
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Per-document distinctive terms: term frequency × inverse document
    frequency, top-``k`` per document → (doc_id, term, tf, df, tfidf,
    rank). Corpus keyword extraction / topic observability for a
    pretraining pipeline.

    Shape at 100 TB: explode is narrow; the (doc, term) count is
    map-side combinable; document frequency aggregates the (doc, term)
    frame down to vocabulary size; the tf↔df join shuffles on term
    (both sides already keyed by it); the corpus doc count enters as a
    broadcast ONE-ROW cross join (no driver-side collect); the final
    top-k window partitions per document, bounded by per-doc distinct
    terms — never a global sort.

    Determinism across engines: the RANKING uses integers only
    (tf DESC, df ASC, term ASC). The emitted ``tfidf`` weight is the
    ratio form tf × (n_docs / df) — one IEEE divide and one multiply,
    both exactly rounded, so any IEEE SQL engine reproduces the float
    bit-for-bit. A ln-based idf would rank the same way but its libm
    last-ulp drift across engines could flip a rounded 6dp boundary in
    a hash gate; the ratio form is a monotone transform of 1/df at
    fixed tf, so top-k membership ordered by (tf, df) is unchanged.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(ndocs))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))).alias("tfidf"),
            "rank",
        )
    )


def crossdoc_line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CORPUS-level exact line dedup (the Dolma / RefinedWeb paragraph-
    dedup recipe, public pipelines): each distinct line (compared case-
    and whitespace-insensitively) survives only at its FIRST occurrence
    in the corpus — ordered by (doc_id, line index) — and is removed
    everywhere else, including later occurrences inside the same
    document. Returns (doc_id, n_lines, n_kept, dedup_fp) with
    ``dedup_fp`` = md5 of the surviving lines re-joined in order.

    Complements ``line_dedup`` (intra-document only, narrow): this one
    must see the whole corpus. Shape at 100 TB: posexplode is narrow;
    the canonical-occurrence pick is a groupBy(norm) ``min(struct(doc,
    idx))`` — map-side combinable, ONE row per distinct line out — and
    the join back is on the same norm key (hot boilerplate lines give
    probe-side fanout only; AQE skew-split applies). Reassembly groups
    by doc_id with ``array_sort(collect_list(struct(idx, line)))``,
    bounded by per-document line counts. No windows over unbounded
    partitions, no global sort.
    """
    lines = F.split(F.col(text_col), "\n")
    occ = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(lines).alias("idx", "line")
    ).withColumn("norm", F.trim(F.lower(F.col("line"))))
    first = occ.groupBy("norm").agg(
        F.min(F.struct(F.col("doc_id").alias("d"), F.col("idx").alias("i"))).alias("fst")
    )
    kept = (
        occ.join(first, "norm")
        .filter((F.col("doc_id") == F.col("fst.d")) & (F.col("idx") == F.col("fst.i")))
        .select("doc_id", "idx", "line")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("kept_text"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"), F.size(lines).cast("long").alias("n_lines")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.md5(F.coalesce(F.col("kept_text"), F.lit(""))).alias("dedup_fp"),
    )


def lexical_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical-diversity profile — the vocabulary-health
    numbers a mixture designer reads next to source token counts:

      type_token_ratio  distinct tokens / total tokens (vocab richness)
      hapax_ratio       share of the vocabulary appearing exactly once
                        (the Zipf tail; collapses under boilerplate)
      top_share         most frequent token's share of all tokens
                        (head dominance; spikes on template spam)

    Everything is exact integer counting until three final single
    divisions — bit-replayable by the oracle with no float-order caveat
    (the transcendental-free version of a Zipf-slope fit; slope needs
    log-log regression, but these three ratios move the same way and
    cost one shuffle). Plan: one token explode → one (group, token)
    count (map-side combinable) → one group rollup carrying max() for
    the top share. No windows, no sorts.
    """
    occ = df.select(
        F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tok")
    )
    per_tok = occ.groupBy("g", "tok").agg(F.count("*").alias("c"))
    return (
        per_tok.groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
            F.max("c").cast("long").alias("max_count"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_distinct",
            "n_hapax",
            (F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")).alias(
                "type_token_ratio"
            ),
            (F.col("n_hapax").cast("double") / F.col("n_distinct").cast("double")).alias(
                "hapax_ratio"
            ),
            (F.col("max_count").cast("double") / F.col("n_tokens").cast("double")).alias(
                "top_share"
            ),
        )
    )


_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text form for ingest normalization — the cleanup pass a
    crawl pipeline runs BEFORE hashing/shingling so trivially-distinct
    spellings of one document collapse (the text-level analog of
    ``url_canonicalize``; C4 and FineWeb run the same class of
    lowercase/whitespace canonicalization before exact dedup). Declared
    rules, applied in order:

    1. lowercase (casefold-lite — locale-independent on both engines);
    2. C0/C1-ish control characters (NUL..BS, VT, FF, SO..US, DEL)
       replaced with a space — tab/newline/CR survive to step 3 as
       whitespace;
    3. runs of whitespace collapsed to one space;
    4. leading/trailing whitespace trimmed.

    Emits ``out_col`` plus ``changed`` (the row needed normalizing —
    the monitoring counter an ingest dashboard tracks). Map-only: four
    narrow string expressions, no shuffle, rides the ingest scan at
    100 TB. The regexes use only \\x escapes, literal classes, and
    ``\\s`` — identical semantics under Java regex (Spark) and RE2
    (DuckDB), so oracles replay bit-for-bit.
    """
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), _CTRL_RE, " "), r"\s+", " "
        )
    )
    # `changed` is computed BEFORE the output column lands: with
    # out_col == text_col (in-place normalization) comparing after the
    # overwrite would compare the new column to itself — always False.
    return df.withColumn("changed", norm != t).withColumn(out_col, norm)


def langid_confusion(
    df: DataFrame, label_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Classifier-evaluation report for the stopword language heuristic
    (:func:`language_id`): the (label, prediction) confusion matrix with
    each cell's share of its label row — the agreement table that tells
    a multilingual-corpus team where the cheap in-engine langid can be
    trusted and where the expensive model classifier must run (the same
    eval CCNet performs for its fastText gate, Wenzek 2020 §4.2).

    Output: ``lang_label, lang_pred, n_docs, label_share`` (share of the
    label's documents landing in this predicted cell; rows of the matrix
    sum to 1).

    100 TB shape: the per-doc prediction is narrow expressions riding
    the scan; the matrix is ONE combinable (label, pred) count
    aggregation — the shuffle carries |langs|² rows. ``label_share``
    is a window over that matrix frame, which is tiny by construction
    (never the corpus), so the global-order caveat that bans fact-table
    windows does not apply.
    """
    from pyspark.sql import Window

    pred = language_id(df, text_col=text_col)
    m = pred.groupBy(
        F.col(label_col).alias("lang_label"), "lang_pred"
    ).agg(F.count("*").cast("long").alias("n_docs"))
    w = Window.partitionBy("lang_label")
    return m.withColumn(
        "label_share",
        F.col("n_docs").cast("double") / F.sum("n_docs").over(w),
    )


# ---------------------------------------------------------------------------
# HTML boilerplate extraction (crawl-ingest tier)

# RE2-compatible on purpose (no backreferences, no lookaround): a future
# DuckDB oracle must be able to replay every pattern verbatim.
_HTML_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_HTML_STYLE = r"(?is)<style[^>]*>.*?</style>"
_HTML_COMMENT = r"(?s)<!--.*?-->"
# every tag-name alternation is guarded on the right ((\s[^>]*)?/?>) so a
# name that merely EXTENDS a listed one (<pre> vs p, <link> vs li,
# <track> vs tr, <thead> vs th, <abbr>/<audio>/<area> vs a) is NOT
# treated as a match — review-found bug class r11
_HTML_BLOCK_TAGS = (
    r"(?i)</?(p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|td|th|table|section"
    r"|article|header|footer|blockquote|nav|aside|form|figure)"
    r"([ \t\r\n\x0b\f][^>]*)?/?>"
)
_HTML_ANCHOR = r"(?is)<a([ \t\r\n\x0b\f][^>]*)?>(.*?)</a>"
_HTML_ANY_TAG = r"<[^>]*>"


def _html_entity_decode(c: Column) -> Column:
    """The five entities that dominate crawl text. ``&amp;`` decodes
    LAST so ``&amp;lt;`` becomes ``&lt;`` (one level, per the spec),
    never ``<``."""
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return c


#: explicit ASCII whitespace class for cross-dialect regexes: Java's
#: \s includes \x0b/\f while RE2's does not, so any oracle-replayed
#: pattern must spell the class out (parity-review-found r11)
_WS = "[ \t\r\n\x0b\f]"


def _strip_tags(c: Column) -> Column:
    # entities decode BEFORE the whitespace collapse/trim so a decoded
    # '&nbsp;' folds into the single-space normalization instead of
    # leaving doubled or leading/trailing spaces (ADVICE r11); '&amp;'
    # still decodes last inside _html_entity_decode, preserving the
    # one-level rule
    return F.trim(
        F.regexp_replace(
            _html_entity_decode(F.regexp_replace(c, _HTML_ANY_TAG, " ")),
            _WS + "+",
            " ",
        )
    )


def extract_html_text(
    df: DataFrame,
    html_col: str = "text",
    out_col: str = "extracted",
    min_chars: int = 30,
    max_link_density: float = 0.35,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """Boilerplate-stripping text extraction from raw HTML — the step a
    crawl pipeline runs BEFORE every quality gate and dedup tier here
    (jusText / trafilatura-style block classification, Kohlschütter
    2010 "boilerplate detection using shallow text features", reduced
    to the three features that need no DOM: block length, link
    density, alphanumeric ratio).

    Pipeline (one codegen'd projection — no explode, no shuffle, no
    Python; document boundaries never leave the row):

      1. drop <script>/<style> bodies and comments,
      2. block-level tags become newlines (the block segmentation),
      3. per block: link density = anchor-text chars / block chars
         (measured BEFORE tag stripping, from <a>…</a> inner text),
         stripped text, length, alphanumeric ratio,
      4. keep blocks with length ≥ ``min_chars``, link density ≤
         ``max_link_density``, alpha ratio ≥ ``min_alpha_ratio``; the
         kept blocks re-join with newlines as ``out_col``.

    Navigation bars and link farms die on link density, ASCII-art and
    code dumps on alpha ratio, button labels and breadcrumbs on length.
    Plain text without any tags degrades gracefully: one block, kept
    iff it passes the same gates. NULL html → NULL output columns —
    degrade, never crash. The intermediate per-block struct binds each
    computed value ONCE (two chained transforms), so the regex chain is
    not re-evaluated per consuming field — the no-CSE-in-lambdas rule.

    All patterns are RE2-compatible (no backreferences/lookaround) so a
    DuckDB oracle can replay the extraction verbatim.

    Adds: ``out_col`` (extracted text), ``n_blocks``, ``n_kept_blocks``,
    ``html_chars``, ``extracted_chars``.
    """
    c = F.col(html_col)
    cleaned = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(c, _HTML_SCRIPT, " "), _HTML_STYLE, " "),
        _HTML_COMMENT,
        " ",
    )
    # HTML source whitespace is insignificant: collapse raw newlines
    # BEFORE blockifying, so blocks come only from block-level TAGS (a
    # <p> spanning 3 source lines is one block, not three)
    flat = F.regexp_replace(cleaned, r"[\r\n\t]+", " ")
    blocks = F.split(F.regexp_replace(flat, _HTML_BLOCK_TAGS, "\n"), "\n")

    def raw_feats(b: Column) -> Column:
        anchor_len = F.aggregate(
            F.transform(
                F.regexp_extract_all(b, F.lit(_HTML_ANCHOR), F.lit(2)),
                lambda a: F.length(_strip_tags(a)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        return F.struct(
            _strip_tags(b).alias("txt"), anchor_len.alias("anchor_chars")
        )

    def full_feats(s: Column) -> Column:
        txt = s.getField("txt")
        tlen = F.length(txt)
        # Unicode letters/digits, NOT ASCII — a Cyrillic/CJK/Greek page
        # must pass the alpha gate (review-found r11; \p{L}\p{N} is
        # RE2-compatible, so the oracle constraint still holds)
        alpha = F.length(F.regexp_replace(txt, r"[^\p{L}\p{N}]", ""))
        return F.struct(
            txt.alias("txt"),
            s.getField("anchor_chars").alias("anchor_chars"),
            tlen.alias("tlen"),
            alpha.alias("alpha"),
        )

    feats = F.transform(F.transform(blocks, raw_feats), full_feats)
    nonempty = F.filter(feats, lambda s: s.getField("tlen") > 0)

    def keep(s: Column) -> Column:
        tlen = s.getField("tlen")
        return (
            (tlen >= min_chars)
            & (s.getField("anchor_chars") <= max_link_density * tlen)
            & (s.getField("alpha") >= min_alpha_ratio * tlen)
        )

    # Cross-COLUMN sharing (distinct from the per-field struct binding
    # above): the four outputs below all consume the block chain, and
    # expressions in one projection get no common-subexpression
    # elimination across columns — as independent column expressions the
    # whole regex+HOF chain ran once PER OUTPUT (~4x; measured 2.0 s →
    # 0.74 s at sf0.1, bit-identical). Binding ``nonempty``/``kept``/
    # ``extracted`` as real columns in CHAINED projections shares them:
    # CollapseProject never inlines a non-trivial alias that is
    # referenced more than once, so each stage stays materialized in the
    # row buffer. The final select restores the original column order.
    kept = F.filter(F.col("_ehx_ne"), keep)
    extracted = F.array_join(
        F.transform(F.col("_ehx_kept"), lambda s: s.getField("txt")), "\n"
    )
    out = (
        df.withColumn("_ehx_ne", nonempty)
        .withColumn("_ehx_kept", kept)
        .withColumn("_ehx_txt", extracted)
        .withColumns(
            {
                "n_blocks": F.size(F.col("_ehx_ne")).cast("long"),
                "n_kept_blocks": F.size(F.col("_ehx_kept")).cast("long"),
                "html_chars": F.length(c).cast("long"),
                out_col: F.col("_ehx_txt"),
                "extracted_chars": F.length(F.col("_ehx_txt")).cast("long"),
            }
        )
    )
    added = ["n_blocks", "n_kept_blocks", "html_chars", out_col, "extracted_chars"]
    return out.select(*[b for b in df.columns if b not in added], *added)


#: blank line/paragraph filter shared by BOTH repetition-signal forms
#: (explode + inline — one literal so the pinned equivalence cannot
#: drift): explicit ASCII class, not \s — Java's \s includes \x0b/\f,
#: RE2's does not, and the oracle replays this pattern verbatim
#: (parity-review-found r11)
_BLANK_UNIT = r"^[ \t\r\n\x0b\f]*$"


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The rest of the Gopher repetition suite (Rae et al. 2021 §A1.1
    Table A1; ``repetition_stats`` covers type-token ratio and
    top-token share): per document —

    - ``dup_line_frac`` / ``dup_line_char_frac``: duplicated LINE
      occurrences (beyond each line's first) as a fraction of line
      count / of line characters,
    - ``dup_para_frac`` / ``dup_para_char_frac``: same over
      paragraphs (split on blank lines),
    - ``top_{2,3,4}gram_char_frac``: characters covered by the most
      frequent word n-gram (count × n-gram length / total token
      characters; ties break to the lexicographically smallest gram).

    Declared conventions (deterministic and SQL-replayable for the
    planned driver row): duplicates count occurrences AFTER the first;
    line/paragraph character totals exclude the separators; n-grams are
    over the engine tokenizer's tokens joined with single spaces; docs
    with no lines/tokens report 0.0 (never NULL/NaN).

    Plan shape, same reasoning as ``repetition_stats``: explode + keyed
    combinable aggregations — every shuffle keys on (doc, unit) then
    doc, map-side combines, and scales with corpus size, not document
    length; the three gram sizes ride ONE explode (the n rides along as
    a key). Three small per-doc frames join back on ``id_col``.

    Line/paragraph splits are CRLF-safe (``\r?\n``) and blank units
    (whitespace-only after any split) are excluded on BOTH sides of
    every fraction. A NULL ``id_col`` fails loudly (the assign_shards
    convention): a keyless document cannot join its signals back, and
    the downstream gate would silently pass it.
    """
    doc = F.col(id_col)
    df = df.filter(
        F.assert_true(
            doc.isNotNull(),
            F.lit(
                f"repetition_signals: NULL {id_col} — signals join back"
                " by id, and a keyless row would silently skip the gate"
            ),
        ).isNull()
    )

    def dup_stats(units: Column, frac_name: str, char_name: str) -> DataFrame:
        u = df.select(
            doc,
            F.explode(
                F.filter(units, lambda x: ~x.rlike(_BLANK_UNIT))
            ).alias("u"),
        )
        per_unit = u.groupBy(id_col, "u").agg(F.count("*").alias("c"))
        return per_unit.groupBy(id_col).agg(
            (F.sum(F.col("c") - 1) / F.sum("c")).alias(frac_name),
            (
                F.sum((F.col("c") - 1) * F.length("u")) / F.sum(F.col("c") * F.length("u"))
            ).alias(char_name),
        )

    lines = dup_stats(
        F.split(F.col(text_col), r"\r?\n"), "dup_line_frac", "dup_line_char_frac"
    )
    paras = dup_stats(
        F.split(F.col(text_col), r"(?:\r?\n){2,}"),
        "dup_para_frac",
        "dup_para_char_frac",
    )

    toks = df.select(doc, tokens(text_col).alias("_toks"))
    tok_chars = toks.select(
        doc,
        F.aggregate(
            F.col("_toks"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).alias("_tok_chars"),
    )
    def _gram_structs(n: int) -> Column:
        # sequence(1, 0) silently counts DOWN (step auto-infers -1), so
        # a doc with < n tokens must short-circuit to the empty array —
        # slice(arr, 1, 0) keeps the struct type
        size = F.size(F.col("_toks"))
        arr = F.transform(
            F.sequence(F.lit(1), F.greatest(size - (n - 1), F.lit(1))),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(F.col("_toks"), i, n)).alias("g"),
            ),
        )
        return F.when(size >= n, arr).otherwise(F.slice(arr, 1, 0))

    gram_arrays = [_gram_structs(n) for n in (2, 3, 4)]
    grams = toks.select(
        doc, F.explode(F.concat(*gram_arrays)).alias("s")
    ).select(id_col, F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    counts = grams.groupBy(id_col, "n", "g").agg(F.count("*").alias("c"))
    # most frequent gram per (doc, n), ties to smallest gram: max_by on
    # (c, reversed-ordering proxy) is awkward for string ties — a
    # window rank over the (doc, n, gram) count frame is exact and the
    # frame is already shuffled on its keys
    from pyspark.sql import Window as _W

    w = _W.partitionBy(id_col, "n").orderBy(F.desc("c"), F.asc("g"))
    top = (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            id_col,
            "n",
            # a gram is exactly n space-free tokens joined by single
            # spaces, so its token-char count is len - (n-1) — integer
            # arithmetic, no per-row regex (review-found r11)
            (F.col("c") * (F.length("g") - (F.col("n") - 1))).alias("_covered"),
        )
    )
    top_wide = (
        top.groupBy(id_col)
        .pivot("n", [2, 3, 4])
        .agg(F.first("_covered"))
        .join(tok_chars, id_col)
        .select(
            id_col,
            *[
                F.coalesce(
                    F.col(str(n))
                    / F.when(F.col("_tok_chars") > 0, F.col("_tok_chars")),
                    F.lit(0.0),
                ).alias(f"top_{n}gram_char_frac")
                for n in (2, 3, 4)
            ],
        )
    )
    base = df.select(doc)
    out = (
        base.join(lines, id_col, "left")
        .join(paras, id_col, "left")
        .join(top_wide, id_col, "left")
    )
    zero_cols = [
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        "top_2gram_char_frac",
        "top_3gram_char_frac",
        "top_4gram_char_frac",
    ]
    return out.na.fill(0.0, zero_cols)


def repetition_signals_inline(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-ROW twin of :func:`repetition_signals`: the same seven
    Gopher repetition signals computed as ONE map-only projection with
    higher-order array functions — no explode, no groupBy, no join
    back, no Python. Equivalence to the explode form is pinned in
    tests/test_text.py.

    Why both forms exist: the explode form's shuffles scale with
    CORPUS size regardless of document length (the right trade for a
    batch pass over arbitrary documents); this form is O(m log m) per
    document (one array_sort per gram size + linear folds), entirely
    inside whole-stage codegen — the right trade when rows must stay
    rows: STREAMING gates (an aggregation-free projection is legal in
    any output mode, no watermark, no state) and short-document
    corpora where a shuffle per signal family is pure overhead.

    Signal identities used (provably equal to the batch definitions):
    dup_frac = (n - n_distinct)/n, dup_char_frac =
    (chars - chars_of_distinct)/chars; top-n-gram coverage via an
    ascending run-length scan over the sorted gram array — strict '>'
    keeps the FIRST maximal run, which in ascending order is the
    lexicographically smallest gram, exactly the batch tie-break.
    NULL text yields all-zero signals (the batch form's no-units
    convention). Adds the seven signal columns to ``df``.

    CSE note (the r4 lambda trap, re-found here in r13 — 63 s → sub-s
    at sf0.1): the unit arrays are BOUND to real columns before any
    higher-order lambda references them. An expression like
    ``tokens(text)`` referenced INSIDE a ``transform``/``aggregate``
    lambda is re-evaluated PER ELEMENT (HigherOrderFunction bodies see
    an expression tree, not a slot), turning the whole regex tokenize
    chain into O(m²) per document; an AttributeReference to a staged
    column is a row-buffer lookup. The staging columns are dropped
    before return, so the output schema is unchanged.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumns(
        {
            "_rep_lines": F.filter(
                F.split(text, r"\r?\n"), lambda x: ~x.rlike(_BLANK_UNIT)
            ),
            "_rep_paras": F.filter(
                F.split(text, r"(?:\r?\n){2,}"), lambda x: ~x.rlike(_BLANK_UNIT)
            ),
            "_rep_toks": F.expr(_tokens_sql(f"coalesce(`{text_col}`, '')")),
        }
    )
    # Second staging layer (cross-COLUMN sharing, the extract_html_text
    # rule): array_distinct of each unit array is consumed by BOTH the
    # occurrence and char fractions, and the token-char fold by all
    # three gram columns — as inline subexpressions they re-evaluate
    # once per output column (no cross-column CSE in a projection), so
    # bind them as real columns; CollapseProject keeps non-trivial
    # multiply-referenced aliases materialized.
    staged = staged.withColumns(
        {
            "_rep_lines_d": F.array_distinct(F.col("_rep_lines")),
            "_rep_paras_d": F.array_distinct(F.col("_rep_paras")),
            "_rep_tokc": F.aggregate(
                F.col("_rep_toks"),
                F.lit(0).cast("long"),
                lambda a, t: a + F.length(t),
            ),
        }
    )

    def dup_pair(u: Column, ud: Column) -> tuple[Column, Column]:
        n = F.size(u)
        nd = F.size(ud)
        chars = F.aggregate(
            u, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        dchars = F.aggregate(
            ud, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        frac = F.when(n > 0, (n - nd) / n).otherwise(F.lit(0.0))
        cfrac = F.when(chars > 0, (chars - dchars) / chars).otherwise(F.lit(0.0))
        return frac, cfrac

    line_frac, line_cfrac = dup_pair(F.col("_rep_lines"), F.col("_rep_lines_d"))
    para_frac, para_cfrac = dup_pair(F.col("_rep_paras"), F.col("_rep_paras_d"))

    toks = F.col("_rep_toks")
    tok_chars = F.col("_rep_tokc")

    def top_gram_frac(n: int) -> Column:
        size = F.size(toks)
        grams = F.when(
            size >= n,
            F.transform(
                F.sequence(F.lit(1), F.greatest(size - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        srt = F.array_sort(grams)
        zero = F.lit(0).cast("long")
        state0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("best"),
            F.lit(None).cast("string").alias("bestg"),
        )

        def step(acc: Column, g: Column) -> Column:
            newrun = F.when(
                acc.getField("prev").isNotNull() & (g == acc.getField("prev")),
                acc.getField("run") + 1,
            ).otherwise(F.lit(1).cast("long"))
            better = newrun > acc.getField("best")
            return F.struct(
                g.alias("prev"),
                newrun.alias("run"),
                F.when(better, newrun).otherwise(acc.getField("best")).alias("best"),
                F.when(better, g).otherwise(acc.getField("bestg")).alias("bestg"),
            )

        fin = F.aggregate(srt, state0, step)
        covered = fin.getField("best") * (
            F.length(fin.getField("bestg")) - (n - 1)
        )
        return F.coalesce(
            covered / F.when(tok_chars > 0, tok_chars), F.lit(0.0)
        )

    return staged.withColumns(
        {
            "dup_line_frac": line_frac,
            "dup_line_char_frac": line_cfrac,
            "dup_para_frac": para_frac,
            "dup_para_char_frac": para_cfrac,
            "top_2gram_char_frac": top_gram_frac(2),
            "top_3gram_char_frac": top_gram_frac(3),
            "top_4gram_char_frac": top_gram_frac(4),
        }
    ).drop("_rep_lines", "_rep_paras", "_rep_toks", "_rep_lines_d", "_rep_paras_d", "_rep_tokc")


#: Gopher Table A1 repetition thresholds (Rae et al. 2021): reject when
#: the signal EXCEEDS the bound. Order fixed for reject-reason strings.
GOPHER_REPETITION_RULES = (
    ("dup_line_frac", 0.30),
    ("dup_para_frac", 0.30),
    ("dup_line_char_frac", 0.20),
    ("dup_para_char_frac", 0.20),
    ("top_2gram_char_frac", 0.20),
    ("top_3gram_char_frac", 0.18),
    ("top_4gram_char_frac", 0.16),
)


def gopher_repetition_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Apply the Gopher Table A1 repetition gates over
    :func:`repetition_signals`: adds the signal columns, a
    ``reject_reasons`` string ('|'-joined exceeded rules in
    GOPHER_REPETITION_RULES order, '' when clean) and ``keep`` — the
    same contract as ``gopher_filter``, which covers the paper's
    non-repetition rules; run both for the full Gopher gate (in either
    order: pre-existing reject_reasons/keep columns MERGE — reasons
    concatenate, keep AND-composes). Note the thresholds presume
    web-document lengths: a unique-token document of L words has
    top-n-gram char coverage ≈ n/L, so very short documents exceed
    the n-gram bounds arithmetically — gopher_filter's min_words rule
    in the same composition is what screens those."""
    sig = repetition_signals(df, text_col=text_col, id_col=id_col)
    out = _stage_prior_gate(df).join(sig, id_col, "left")
    return _merge_repetition_gate(out)


def _stage_prior_gate(df: DataFrame) -> DataFrame:
    """Stage a frame for a (re-)application of the repetition gate —
    shared by the explode and inline forms so the merge contract can
    only evolve in one place (the contract itself was review-found
    r11: composing gates must MERGE, not overwrite):

    - prior ``reject_reasons``/``keep`` move into ``_prior_*`` staging
      columns (reasons will prepend, keep will AND-compose),
    - any pre-existing signal columns drop — a prior signals pass would
      otherwise make the rejoin/recompute ambiguous (ADVICE r11); the
      fresh signals are recomputed from text, so nothing is lost."""
    prior_reasons = (
        F.col("reject_reasons") if "reject_reasons" in df.columns else F.lit("")
    )
    prior_keep = F.col("keep") if "keep" in df.columns else F.lit(True)
    signal_cols = [c for c, _ in GOPHER_REPETITION_RULES]
    return (
        df.withColumn("_prior_reasons", prior_reasons)
        .withColumn("_prior_keep", prior_keep)
        .drop("reject_reasons", "keep", *signal_cols)
    )


def _repetition_reject_reasons() -> Column:
    """'|'-joined exceeded rules over the seven signal columns, in
    GOPHER_REPETITION_RULES order ('' when clean)."""
    return F.array_join(
        F.filter(
            F.array(
                *[
                    F.when(F.col(c) > F.lit(t), F.lit(c)).otherwise(F.lit(None))
                    for c, t in GOPHER_REPETITION_RULES
                ]
            ),
            lambda x: x.isNotNull(),
        ),
        "|",
    )


def _merge_repetition_gate(out: DataFrame) -> DataFrame:
    """Apply the repetition rules over a frame carrying the signal
    columns plus staged ``_prior_reasons``/``_prior_keep``, merging
    with any prior gate decision (reasons concatenate, keep
    AND-composes)."""
    rep_reasons = _repetition_reject_reasons()
    merged = F.array_join(
        F.filter(
            F.array(F.col("_prior_reasons"), rep_reasons), lambda x: x != ""
        ),
        "|",
    )
    return (
        out.withColumn("reject_reasons", merged)
        .withColumn("keep", F.col("_prior_keep") & (rep_reasons == ""))
        .drop("_prior_reasons", "_prior_keep")
    )


def gopher_repetition_filter_inline(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Map-only twin of :func:`gopher_repetition_filter` over
    :func:`repetition_signals_inline` — the same Table A1 thresholds
    and the same reject_reasons/keep MERGE contract, as one stateless
    projection: no id column needed (nothing joins back), legal in any
    streaming output mode. Gate-equivalence to the explode form is
    pinned in tests/test_text.py."""
    sig = repetition_signals_inline(_stage_prior_gate(df), text_col=text_col)
    return _merge_repetition_gate(sig)
