"""Training-data curation operators: benchmark decontamination, PII
scanning/redaction, deterministic dataset splits, weighted source
mixing, quantile-band filtering, and cross-corpus dedup.

No reference analog (the reference stops at token ETL); this is the
selection/curation layer a pretraining pipeline runs between raw
ingestion and dedup (BASELINE.json north star). Design rules:

- Everything is built-in-function only — no Python boundary, every
  expression stays inside whole-stage codegen.
- All sampling/splitting is *deterministic content hashing* (md5 of a
  key), never ``rand()``: reruns, retries, and late-arriving partitions
  must land every row in the same split on a 1000-executor cluster, and
  the DuckDB oracle must be able to reproduce the assignment bit-for-bit.
- The benchmark/reference sides of decontamination and cross-corpus
  dedup are the small side by construction (an eval suite is MBs, the
  corpus is TBs): broadcast them, keep the TB side shuffle-free until
  the one aggregation that needs a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.operators.dedup import normalized, shingles
from token_etl_spark.operators.text import token_count

# ---------------------------------------------------------------------------
# deterministic hash buckets


def hash_bucket(key: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from md5 of the key.

    Uses the first 6 hex digits (24 bits — uniform and plenty for
    percent-style bucketing) so the DuckDB oracle can reproduce it:

        spark : conv(substr(md5(CAST(k AS STRING)), 1, 6), 16, 10) % n
        duckdb: CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 6) AS BIGINT) % n

    Never use ``rand()`` for splits: non-deterministic under task retry,
    and invisible to an oracle.
    """
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 6), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash of the key.

    Buckets 0..test_pct-1 → test, next val_pct → val, rest → train, so
    growing the corpus never moves an existing row between splits.
    Narrow (per-row projection): zero shuffles, survives any scale.
    """
    b = hash_bucket(key_col)
    split = (
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(out_col, split)


def cluster_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    key_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Leakage-safe train/val/test split: assign every document by the
    hash of its NEAR-DUP CLUSTER representative, so near-duplicate
    copies can never straddle a split boundary — the eval-contamination
    failure mode of a plain per-document ``hash_split`` (a train doc's
    near-copy landing in test silently inflates eval scores; Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    measures exactly this leakage).

    ``clusters`` is an (id, component) frame — ``minhash_dedup_clusters``
    output, or any grouping worth isolating (URL host, source document
    of chunks). Documents absent from it are singletons and key on
    themselves, so the split distribution stays ~(test, val, train) =
    (test_pct, val_pct, rest) percent of CLUSTERS (not documents —
    a giant cluster moves as one unit, by design).

    100 TB shape: one left join (clusters is the small side in any
    deduplicated corpus — broadcast or shuffle on the doc key) + the
    narrow ``hash_split`` projection. Deterministic and append-stable:
    new members of an existing cluster follow their cluster; new
    singletons hash independently.
    """
    comp = clusters.select(F.col("id").alias(key_col), F.col("component"))
    keyed = (
        df.join(comp, key_col, "left")
        .withColumn("split_key", F.coalesce(F.col("component"), F.col(key_col)))
        .drop("component")
    )
    return hash_split(keyed, key_col="split_key", val_pct=val_pct, test_pct=test_pct)


def weighted_source_mix(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Per-source deterministic downsampling: keep a ``weights[source]``
    fraction of each source's rows (default ``default_rate`` for sources
    not listed).

    This is the "domain mixing" step of corpus assembly (e.g. keep 100%
    of curated sources, 10% of crawl). Hash-threshold keep decision is
    a narrow projection — no shuffle, no rand(), rerun-stable.
    """
    rate = F.lit(float(default_rate))
    for src, w in sorted(weights.items()):
        rate = F.when(F.col(source_col) == src, F.lit(float(w))).otherwise(rate)
    keep = hash_bucket(key_col, n_buckets) < (rate * n_buckets).cast("long")
    return df.where(keep)


def token_budget_cap(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    key_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    seed: str = "s0",
    n_buckets: int = 256,
) -> DataFrame:
    """Cap each source at ``budget_tokens``: documents are taken in
    deterministic md5 order and kept while the budget is not yet
    exhausted BEFORE the document (so the first document crossing the
    boundary is kept and every source lands within one document of its
    budget — same convention as ``pack_sequences`` chunk assignment).

    This is the token-quota side of corpus mixing ("2B tokens of
    source X"), dual to the rate-based ``weighted_source_mix``.

    Scale: the cumulative sum runs TWO-PHASE so a giant source does not
    serialize into one task. The md5 order key is RANGE-bucketed by its
    leading hex byte — 256 buckets; all keys in bucket b sort strictly
    before bucket b+1, so per-bucket cumsums compose into the exact
    global cumsum:

      1. windowed cumsum per (source, bucket) — 256-way parallel per
         source;
      2. per-bucket token totals → prefix offsets via a window over the
         tiny (|sources| × 256) totals frame, broadcast back.

    Identical output to the single-window form (``n_buckets=1`` falls
    back to it; any other value selects the 256-way two-phase path;
    equivalence pinned in tests/test_quality_ops.py). The shuffled rows
    carry only (keys, n_tokens) — never text — WHEN the consumer's
    projection drops the text column (the declared budget query does:
    column pruning reaches the exchange); a caller that keeps text
    ships it through the one bucket exchange (r11 precision — the
    unconditional claim predates the assign_shards probe).
    """
    tok = F.col(token_col) if token_col else token_count(text_col)
    ord_key = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(seed)))
    base = df.withColumn("_n_tok", tok.cast("long")).withColumn("_ord", ord_key)
    if n_buckets <= 1:
        w = Window.partitionBy(source_col).orderBy("_ord").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = base.withColumn("_cum_tok", F.sum("_n_tok").over(w))
    else:
        # leading hex byte of the order key → range bucket 0..255 (a
        # fixed-width prefix is what keeps bucket ranges order-exact)
        bkt = F.conv(F.substring("_ord", 1, 2), 16, 10).cast("long")
        base = base.withColumn("_bkt", bkt)
        w_in = Window.partitionBy(source_col, "_bkt").orderBy("_ord").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        totals = base.groupBy(source_col, "_bkt").agg(F.sum("_n_tok").alias("_bkt_tot"))
        w_off = Window.partitionBy(source_col).orderBy("_bkt").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = totals.select(
            source_col,
            "_bkt",
            F.coalesce(F.sum("_bkt_tot").over(w_off), F.lit(0)).alias("_off"),
        )
        out = (
            base.withColumn("_cum_in_bkt", F.sum("_n_tok").over(w_in))
            .join(F.broadcast(offsets), [source_col, "_bkt"])
            .withColumn("_cum_tok", F.col("_off") + F.col("_cum_in_bkt"))
            .drop("_bkt", "_cum_in_bkt", "_off")
        )
    return (
        out.where(F.col("_cum_tok") - F.col("_n_tok") < budget_tokens)
        .drop("_ord")
        .withColumnRenamed("_n_tok", "n_tokens")
        .withColumnRenamed("_cum_tok", "cum_tokens")
    )


def epoch_upsample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_weight: float = 1.0,
    epoch_col: str = "epoch",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Mixture weights ABOVE 1: replicate each document
    ``floor(w)``-or-``ceil(w)`` times so a source with weight 2.5 sees
    ~2.5 epochs (every doc twice, a deterministic md5-chosen half a
    third time). Weights < 1 downsample exactly like
    ``weighted_source_mix``. Adds ``epoch_col`` (1-based copy index) so
    downstream shuffling/packing can keep copies apart.

    Replication is ``explode(sequence(1, n_copies))`` — a narrow
    generator, no shuffle, and n_copies = 0 yields zero rows (empty
    sequence), so the same plan serves up- and down-sampling. Determinism
    matters at 100 TB: task retries must not change corpus composition,
    hence content hashing, never ``rand()``.
    """
    rate = F.lit(float(default_weight))
    for src, wt in sorted(weights.items()):
        rate = F.when(F.col(source_col) == src, F.lit(float(wt))).otherwise(rate)
    n_full = F.floor(rate).cast("long")
    frac = rate - n_full
    extra = (
        hash_bucket(key_col, n_buckets) < (frac * n_buckets).cast("long")
    ).cast("long")
    n_copies = n_full + extra
    # sequence(1, 0) raises at runtime (step sign must match the range
    # direction), so the zero-copy case gets an explicit empty array —
    # explode then drops the row, which is the downsample semantics.
    epochs = F.when(
        n_copies >= 1, F.sequence(F.lit(1).cast("long"), n_copies, F.lit(1).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn(epoch_col, F.explode(epochs))


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: str = "s0",
    rank_col: str = "sample_rank",
    n_prebuckets: int | None = None,
) -> DataFrame:
    """Exactly ``k`` rows per stratum, chosen by deterministic md5 order
    of ``key_col`` ⊕ ``seed`` — a seeded-shuffle top-k, never ``rand()``
    (rerun/retry-stable, oracle-reproducible; a new seed is a fresh
    independent sample).

    Scale shape: one shuffle on ``strata_col``; the per-stratum "sort"
    is rank-limited — Spark's WindowGroupLimit pushes ``row_number <= k``
    below the sort so each task keeps a k-row heap instead of sorting
    its whole stratum. A stratum still funnels through ONE task; for
    skewed strata set ``n_prebuckets``: the two-phase rank (the
    ``bm25_topk`` discipline) pre-ranks per (stratum, md5-prebucket) —
    a stratum's global top-k member is top-k within its prebucket, so
    the parallel bucket-sized pre-ranks discard all but ≤ k·n_prebuckets
    rows per stratum before the real rank. Identical output (pinned in
    tests/test_curation.py), no single-task bottleneck at 100 TB.
    """
    rk = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(seed)))
    src = df
    if n_prebuckets is not None:
        wb = Window.partitionBy(F.col(strata_col), F.col("_pb")).orderBy(rk.asc())
        src = (
            df.withColumn("_pb", hash_bucket(key_col, n_prebuckets))
            .withColumn("_pr", F.row_number().over(wb))
            .where(F.col("_pr") <= k)
            .drop("_pb", "_pr")
        )
    w = Window.partitionBy(strata_col).orderBy(rk.asc())
    return (
        src.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


# ---------------------------------------------------------------------------
# sequence packing


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_shards: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    (concat-and-chunk packing: shuffle deterministically, lay documents
    end-to-end, cut every ``budget`` tokens).

    Two-level design so it scales: documents are first hash-sharded
    (``n_shards`` ≈ cluster parallelism at the target scale), then each
    shard packs independently under one window sort — sequences never
    span shards, so there is exactly one shuffle and no global sort.
    The within-shard order is md5(id): a deterministic corpus shuffle,
    rerun-stable and oracle-reproducible (never ``rand()``).

    Returns (id, shard, seq_id, n_tokens, start_offset): ``seq_id`` is
    the sequence the document *starts* in; ``start_offset`` its token
    offset within the shard's concatenation.
    """
    toks = (
        F.col(token_col).cast("long")
        if token_col
        else token_count(text_col).cast("long")
    )
    # NULL text/token-count packs as an empty (0-token) document — a NULL
    # would otherwise poison its own seq_id while the window sum skips it.
    toks = F.coalesce(toks, F.lit(0).cast("long"))
    base = df.select(
        id_col,
        toks.alias("n_tokens"),
        hash_bucket(id_col, n_shards).alias("shard"),
        F.md5(F.col(id_col).cast("string")).alias("_key"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_offset")
    return base.select(
        id_col,
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(float(budget)))
        .cast("long")
        .alias("seq_id"),
        "n_tokens",
        start,
    )


# ---------------------------------------------------------------------------
# benchmark decontamination


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that share ≥ ``min_overlap`` distinct
    k-token shingles with a benchmark/eval corpus (train-test
    contamination scan, as run before any pretraining launch).

    Plan shape for 100 TB: the benchmark side is small by construction
    (eval suites are MBs) — its distinct shingle set is broadcast, so
    the corpus side is a map-side semi-join over its exploded shingles;
    the only shuffle is the per-doc overlap count. Returns
    (id, n_overlap) for contaminated documents only — the common next
    step is an anti-join to drop them.
    """
    bench_sh = shingles(benchmark, text_col=text_col, id_col=id_col, k=k).select(
        "shingle"
    ).distinct()
    doc_sh = shingles(docs, text_col=text_col, id_col=id_col, k=k)
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    return hits.select(F.col("id").alias(id_col), "n_overlap")


# ---------------------------------------------------------------------------
# PII scan / redaction

# RE2-safe patterns (no lookaround) so the DuckDB oracle runs them
# verbatim; Java regex accepts the same syntax.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

_PII = [("email", EMAIL_RE, "<EMAIL>"), ("ip", IPV4_RE, "<IP>"), ("phone", PHONE_RE, "<PHONE>")]


def pii_scan(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII hit counts + redacted text (emails, IPv4s,
    NNN-NNN-NNNN phones). Pure regexp built-ins in one narrow select —
    codegen'd, shuffle-free; redaction replaces in a fixed order
    (email → ip → phone) so output is deterministic.
    """
    c = F.col(text_col)
    red = c
    for _, pat, token in _PII:
        red = F.regexp_replace(red, pat, token)
    return df.select(
        id_col,
        *[F.regexp_count(c, F.lit(pat)).alias(f"n_{name}") for name, pat, _ in _PII],
        red.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# quantile-band filtering


def quantile_band_filter(
    df: DataFrame,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies within the [lo, hi] quantile
    band (the standard outlier filter on doc length / token count).

    The 1-row quantile frame enters the plan as a broadcast crossJoin —
    no driver-side ``.collect()``, the whole thing is one job (same
    pattern as plans/tpch3.py Q17). The bounds are exact ``percentile``
    values, which the DuckDB oracle replays.
    """
    q = df.agg(
        F.expr(f"percentile({value_col}, array({lo}D, {hi}D))").alias("_q")
    ).select(F.col("_q")[0].alias("_lo"), F.col("_q")[1].alias("_hi"))
    return (
        df.crossJoin(F.broadcast(q))
        .where(F.col(value_col).between(F.col("_lo"), F.col("_hi")))
        .drop("_lo", "_hi")
    )


# ---------------------------------------------------------------------------
# cross-corpus dedup


def cross_corpus_dedup(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Drop documents whose normalized content already appears in a
    reference corpus (dedup of a new crawl against the already-trained
    corpus) — exact-match tier; near-dup tier is
    ``dedup.minhash_dedup_clusters`` over the union.

    Anti-join on md5(normalized text) with no broadcast hint (both sides
    may be TB-scale); Spark's size-based planning still broadcasts a
    reference digest set small enough to fit.
    """
    digest = F.md5(normalized(F.col(text_col)))
    ref = reference.select(digest.alias("_digest")).distinct()
    return docs.withColumn("_digest", digest).join(ref, "_digest", "left_anti").drop(
        "_digest"
    )


def url_canonicalize(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canon_url",
) -> DataFrame:
    """Canonical URL form for URL-level dedup of a web crawl — the
    normalization CommonCrawl-style pipelines run BEFORE exact dedup so
    that trivially-distinct spellings of one resource collapse (the
    URL-dedup tier ahead of content dedup; cf. the URL normalizations
    RFC 3986 §6 classifies as safe). Declared rules, all
    semantics-preserving per RFC 3986 except the two marked policies:

    - scheme and host lowercased (§6.2.2.1)
    - default port stripped (:80 for http, :443 for https — §6.2.3)
    - fragment dropped (never sent to the server)
    - ``utm_*`` tracking params dropped (policy: they identify the
      campaign, not the resource)
    - remaining query params SORTED (policy: order-insensitive servers
      dominate; sorting collapses permuted duplicates)
    - trailing slashes stripped from the path (policy)

    A value with no ``scheme://`` prefix is not a URL under these rules
    and passes through UNCHANGED (garbage in, same garbage out — never
    a fabricated ``://...`` string); userinfo (``user@host``) is out of
    declared scope.

    Pure string surgery — regexp_extract / lower / higher-order array
    ops only, every pattern RE2-and-Java-compatible so the DuckDB
    oracle replays the exact canonical string. Each extraction stage is
    materialized as a column BEFORE the query-param lambda consumes it
    (the standing no-CSE-in-lambdas rule). Map-only: no shuffle, no UDF
    — at 100 TB this rides the ingest scan for free; the dedup that
    follows (``exact_dedup`` on ``out_col``) is the only shuffle.
    """
    url = F.col(url_col)
    staged = df.withColumn(
        "_scheme", F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    ).withColumn(
        "_rest",
        F.regexp_replace(
            F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), r"#.*$", ""
        ),
    )
    staged = staged.withColumn(
        "_hostport", F.regexp_extract(F.col("_rest"), r"^([^/?]+)", 1)
    )
    staged = (
        staged.withColumn(
            "_host", F.lower(F.regexp_extract(F.col("_hostport"), r"^([^:]+)", 1))
        )
        .withColumn("_port", F.regexp_extract(F.col("_hostport"), r":([0-9]+)$", 1))
        .withColumn(
            "_pathq", F.expr("substring(_rest, length(_hostport) + 1)")
        )
    )
    keep_port = F.when(
        (F.col("_port") == "")
        | ((F.col("_scheme") == "http") & (F.col("_port") == "80"))
        | ((F.col("_scheme") == "https") & (F.col("_port") == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), F.col("_port")))
    staged = (
        staged.withColumn(
            "_path",
            F.regexp_replace(F.regexp_extract(F.col("_pathq"), r"^([^?]*)", 1), r"/+$", ""),
        )
        .withColumn("_query", F.regexp_extract(F.col("_pathq"), r"\?(.*)$", 1))
        .withColumn("_keep_port", keep_port)
    )
    params = F.array_sort(
        F.filter(
            F.split(F.col("_query"), "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    staged = staged.withColumn("_params", params)
    canon = F.concat(
        F.col("_scheme"),
        F.lit("://"),
        F.col("_host"),
        F.col("_keep_port"),
        F.col("_path"),
        F.when(
            F.size("_params") > 0,
            F.concat(F.lit("?"), F.array_join("_params", "&")),
        ).otherwise(F.lit("")),
    )
    canon = F.when(F.col("_scheme") == "", url).otherwise(canon)
    return staged.withColumn(out_col, canon).drop(
        "_scheme", "_rest", "_hostport", "_host", "_port", "_pathq",
        "_path", "_query", "_keep_port", "_params",
    )


def ngram_novelty(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Marginal-information score per document: the fraction of its
    distinct k-gram shingles that NO earlier document (smaller
    ``id_col`` — ingestion order) contains. This is the novelty curve a
    corpus-accumulation pipeline watches to decide when a source is
    mined out (each new crawl batch adds fewer unseen n-grams — the
    diminishing-returns signal behind data-selection work like
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", §5, which measures the same first-occurrence structure).

    Returns (``id_col``, n_grams, n_novel, novelty) for every document
    with ≥1 gram; ``novelty = n_novel / n_grams`` in [0, 1]. A fully
    boilerplate doc scores 0; the first doc scores 1 by construction.

    100 TB shape: distinct (doc, gram) pairs from one narrow
    explode-project, then ``min(doc_id)`` per gram as a WINDOW over the
    gram partition — not a groupBy + join-back, which would shuffle the
    pair frame on the gram key twice (once into the aggregate, once into
    the join; the subtrees differ, so Catalyst cannot reuse the
    exchange). The window form pays ONE gram-keyed exchange and rides
    it for both the min and the membership test; the per-doc rollup is
    the only other shuffle. Nothing is quadratic and nothing global:
    the heaviest intermediate is the distinct pair frame the dedup
    stack already builds.
    """
    grams = shingles(docs, text_col=text_col, id_col=id_col, k=k)
    w = Window.partitionBy("shingle")
    return (
        grams.withColumn("_first", F.min("id").over(w))
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("id") == F.col("_first")).cast("long")).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
        )
    )


def bigram_array_expr(toks: Column) -> Column:
    """Adjacent word-pair array from a tokens column.

    Built with ``zip_with`` over two ``slice``s rather than an indexed
    ``transform`` lambda: higher-order lambdas get no common-
    subexpression elimination, so ``element_at(toks, i)`` with an inline
    tokenizer expression re-runs the regex split TWICE PER BIGRAM —
    O(len²) per document (the ``dedup.shingles`` CSE trap; the indexed
    form cost ext_importance_weights 65 s at sf0.1). ``zip_with``'s
    array operands are plain function ARGUMENTS, evaluated once each
    before the per-element lambda runs, so this form is O(len) even
    when ``toks`` is the tokenizer expression itself.

    Guarded ``when``: Spark's ``sequence(1, n)`` family misbehaves for
    n < 1 (and slice lengths must be non-negative), so sub-2-token docs
    short-circuit to an empty array."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), n - 1),
            F.slice(toks, F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigrams(text_col: str) -> Column:
    """Adjacent word-pair array of the text column ``text_col`` via the
    shared tokenizer (``text.tokens``); O(len) per document — see
    ``bigram_array_expr``."""
    from token_etl_spark.operators.text import tokens

    return bigram_array_expr(tokens(text_col))


def _bigram_occurrences(
    docs: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """(doc_id, source, bucket) — one row per bigram occurrence, bucketed
    with the md5-prefix ``hash_bucket`` the DuckDB oracle replays."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(bigrams(text_col)).alias("bg"),
    ).withColumn("bucket", hash_bucket(F.col("bg"), n_buckets))


def _bigram_bucket_counts(
    docs: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """(doc_id, source, bucket, c) — per-document bucket counts, the ONE
    frame both halves of DSIR scoring derive from: the bucket weight
    table is a per-bucket re-aggregation of these counts (summing c is
    identical to counting occurrences), and the per-doc score joins
    them against the weights.

    NOT checkpointed: ``localCheckpoint(eager=False)`` still materializes
    the plan's RDD at CONSTRUCTION time (under AQE that submits the
    shuffle map stage — a job before any action, the plan-build-hygiene
    anti-pattern), and measured sf0.1 wall clock is ~2× WORSE with the
    checkpoint than just letting the two consumers re-derive the frame
    (5.1 s vs 2.4 s — the zip_with bigram fix made the explode cheap).
    Column pruning gives the two consumers different canonical subtrees,
    so Spark's exchange reuse does not merge them; a production pipeline
    that wants single-scan sharing at 100 TB should persist this frame
    explicitly between stages (write/read parquet), not checkpoint it
    inside the query plan."""
    occ = _bigram_occurrences(docs, n_buckets, text_col, id_col, source_col)
    return occ.groupBy("doc_id", "source", "bucket").agg(F.count("*").alias("c"))


def bigram_lm_tables(
    docs: DataFrame,
    reference_sources: tuple[str, ...] = ("src0",),
    text_col: str = "text",
    source_col: str = "source",
) -> tuple[DataFrame, DataFrame]:
    """Fit the reference bigram LM used by ``bigram_lm_quality``:
    returns ``(bigram_counts, prefix_counts)`` — (bg, c2) and (w1, c1)
    frames over the reference subset. Both are vocabulary-sized
    (broadcastable); persisting them is the fit-offline half of the
    fit/score split the streaming scorer needs."""
    is_ref = F.col(source_col).isin(*reference_sources)
    ref_occ = (
        docs.filter(is_ref)
        .select(F.explode(bigrams(text_col)).alias("bg"))
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
    )
    c2 = ref_occ.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = ref_occ.groupBy("w1").agg(F.count("*").alias("c1"))
    return c2, c1


def bigram_lm_quality(
    docs: DataFrame,
    reference_sources: tuple[str, ...] = ("src0",),
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data", arXiv:1911.00359): score every document by how well a small
    n-gram LM trained on a trusted reference corpus predicts it — fluent,
    reference-like text scores high; gibberish and boilerplate score low.
    CCNet uses a KenLM 5-gram and ranks by perplexity; this is the
    bigram add-1 variant with the LINEAR-domain mean in place of the log
    perplexity: p(w₂|w₁) = (c₂(w₁,w₂)+1)/(c₁(w₁)+V) from reference
    counts, scored as mean over the document's bigrams. The reasons are
    the engine's standard oracle contract (importance_weights makes the
    identical trade): every op involved (+, *, /) is exactly-rounded
    IEEE and bit-reproducible by DuckDB, while log/exp are correctly
    rounded in neither engine. Ranking by mean conditional probability
    orders documents the same direction as (anti-)perplexity; it is a
    declared variant, not KenLM.

    100 TB shape: LM fitting is two map-side-combinable groupBys over
    the REFERENCE subset only (bigram and prefix counts); both LM frames
    are vocabulary-sized and join broadcast, so scoring the TB-scale
    corpus side is narrow until the one per-doc aggregation. The per-doc
    mean folds over the position-sorted probability array so double
    accumulation order is pinned (the ``importance_weights`` /
    ``q_array_ops`` pattern). In production the reference would be a
    separate curated corpus (CCNet uses Wikipedia); here it is a
    source-subset of the same frame, keeping the oracle single-table.
    Unseen prefix ⇒ p = 1/V (c₂ and c₁ both 0) — the smoothing floor.

    Returns (doc_id, source, n_bigrams, score, avg_p): ``score`` the
    pinned-order probability sum, ``avg_p`` its per-bigram mean (the
    ranking signal), both rounded at the query layer only.
    """
    c2, c1 = bigram_lm_tables(docs, reference_sources, text_col, source_col)
    # vocab = distinct first-words of reference bigrams (the conditioning
    # contexts), a 1-row broadcast
    vocab = c1.agg(F.count("*").alias("v"))
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.posexplode(bigrams(text_col)).alias("pos", "bg"),
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    probs = (
        occ.join(F.broadcast(c2), "bg", "left")
        .join(F.broadcast(c1), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p",
            (F.coalesce("c2", F.lit(0)) + 1).cast("double")
            / (F.coalesce("c1", F.lit(0)) + F.col("v")).cast("double"),
        )
    )
    per_doc = probs.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "p"))),
                lambda s: s.getField("p"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source"))
        .join(per_doc, ["doc_id", "source"], "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.col("score") / F.col("n_bigrams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_p"),
        )
    )


def importance_weight_table(
    docs: DataFrame,
    target_sources: tuple[str, ...] = ("src0",),
    n_buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Fit the DSIR-style bucket→weight table (see ``importance_weights``).

    Returns one row per OBSERVED bucket: (bucket, t_b, r_b, t_total,
    r_total, w). The totals columns let a consumer derive the smoothed
    default weight for buckets never observed at fit time —
    ``(r_total + B) / (t_total + B)``, i.e. the formula at t_b = r_b = 0
    — which the streaming scorer needs because an infinite stream WILL
    hash new bigrams into unobserved buckets. B rows: broadcastable.

    ``bucket_counts`` lets a caller that already built the per-doc
    bucket-count frame (``importance_weights`` does) share it instead of
    re-exploding the corpus; summing per-doc counts per bucket is
    exactly the occurrence count.
    """
    dc = (
        bucket_counts
        if bucket_counts is not None
        else _bigram_bucket_counts(docs, n_buckets, text_col, id_col, source_col)
    )
    is_target = F.col("source").isin(*target_sources)
    stats = dc.groupBy("bucket").agg(
        F.sum(F.when(is_target, F.col("c")).otherwise(0)).alias("t_b"),
        F.sum(F.when(~is_target, F.col("c")).otherwise(0)).alias("r_b"),
    )
    tot = stats.agg(F.sum("t_b").alias("t_total"), F.sum("r_b").alias("r_total"))
    return stats.crossJoin(F.broadcast(tot)).withColumn(
        "w",
        ((F.col("t_b") + 1) * (F.col("r_total") + n_buckets)).cast("double")
        / ((F.col("r_b") + 1) * (F.col("t_total") + n_buckets)).cast("double"),
    )


def importance_weights(
    docs: DataFrame,
    target_sources: tuple[str, ...] = ("src0",),
    n_buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style data-selection scoring (Xie et al. 2023,
    arXiv:2302.03169): score every document by how much its hashed-bigram
    distribution resembles a target distribution versus the raw corpus.

    Features are md5-hash-bucketed bigrams (``hash_bucket`` — portable,
    oracle-replayable). Per bucket b with add-1 smoothing over target
    occurrence count t_b (docs whose source is in ``target_sources``) and
    raw count r_b (everything else):

        w_b = ((t_b + 1) * (R + B)) / ((r_b + 1) * (T + B))

    i.e. the RATIO form p̂_target(b) / p̂_raw(b). DSIR proper sums log
    w_b; this operator scores with the linear-domain sum Σ c_b·w_b (and
    its per-bigram mean) because every arithmetic op involved (+, *, /)
    is exactly-rounded IEEE and therefore bit-reproducible by the DuckDB
    oracle, while log is correctly-rounded in neither engine — the same
    trade ``tfidf_top_terms`` makes with its ratio idf. Ranking by the
    linear-domain score upweights the same high-w_b buckets; it is a
    declared variant, not the paper's exact estimator.

    100 TB shape: the bigram explode is narrow; the two aggregations
    (per-bucket stats, per-doc counts) are map-side-combinable groupBys;
    the weight table is B rows — broadcast — so scoring is one shuffle
    of the (doc, bucket) count frame, whose cardinality is capped at
    n_docs × B regardless of corpus bytes. The per-doc fold runs over
    the bucket-sorted term array so double accumulation order is pinned
    (the ``q_array_ops`` pattern). In production the target side would
    be a separate small corpus; here target docs are a source-subset of
    the same frame, which keeps the oracle single-table.
    """
    dc = _bigram_bucket_counts(docs, n_buckets, text_col, id_col, source_col)
    wtab = importance_weight_table(
        docs,
        target_sources,
        n_buckets,
        text_col,
        id_col,
        source_col,
        bucket_counts=dc,
    ).select("bucket", "w")
    terms = dc.join(F.broadcast(wtab), "bucket").withColumn(
        "term", F.col("c").cast("double") * F.col("w")
    )
    per_doc = terms.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "term"))),
                lambda s: s.getField("term"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source"))
        .join(per_doc, ["doc_id", "source"], "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.col("score") / F.col("n_bigrams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_weight"),
        )
    )


def temperature_weights(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    text_col: str = "text",
    token_col: str | None = None,
) -> DataFrame:
    """Temperature-based mixture weights (the multilingual/multi-source
    sampling rule of mC4/UniMax lineage): tempered share
    q_s = p_s^α / Σ_t p_t^α flattens the natural token shares p_s toward
    uniform as α → 0, and ``weight = q_s / p_s`` is exactly the
    per-source rate to hand :func:`epoch_upsample` — head sources
    downsample below 1, tail sources replicate above 1, total token
    budget is (approximately) preserved by construction.

    Returns (source, n_tokens, nat_share, temp_share, weight) — a
    |sources|-row frame from ONE map-side-combinable aggregation over
    the corpus; everything after the exact integer token sums is a fixed
    expression per row plus one PINNED-ORDER fold for Σ p^α (source-
    sorted, the BM25/DSIR float rule), so the DuckDB oracle replays the
    weights bit-for-bit. α = 0.5 (the default, and the declared-query
    setting) evaluates p^α as IEEE-exact ``sqrt``; other α use ``pow``,
    whose rounding is engine-specific — fine for production, excluded
    from the oracle contract.
    """
    tok = F.col(token_col) if token_col else token_count(text_col)
    per = df.groupBy(source_col).agg(F.sum(tok.cast("long")).cast("long").alias("n_tokens"))

    def _pow(c: Column) -> Column:
        if alpha == 0.5:
            return F.sqrt(c.cast("double"))
        return F.pow(c.cast("double"), F.lit(float(alpha)))

    stats = per.agg(
        F.sum("n_tokens").cast("long").alias("_tot"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(source_col, "n_tokens"))),
            F.lit(0.0),
            lambda acc, s: acc + _pow(s.getField("n_tokens")),
        ).alias("_pow_sum"),
    )
    nat = F.col("n_tokens").cast("double") / F.col("_tot").cast("double")
    temp = _pow(F.col("n_tokens")) / F.col("_pow_sum")
    return per.crossJoin(F.broadcast(stats)).select(
        source_col,
        "n_tokens",
        nat.alias("nat_share"),
        temp.alias("temp_share"),
        (temp / nat).alias("weight"),
    )


# ---------------------------------------------------------------------------
# cross-source score calibration


def calibrate_scores(
    df: DataFrame,
    score_col: str,
    source_col: str = "source",
    n_bins: int = 10,
) -> DataFrame:
    """Cross-source quality-score calibration: map each row's raw
    ``score_col`` to its WITHIN-SOURCE percentile (``pct`` — cume_dist
    semantics: fraction of the source's rows with score <= this row's),
    then to a global equal-width percentile bin (``bin`` in
    ``[0, n_bins)``).

    Why: raw quality scores (LM perplexity, classifier logits, heuristic
    ratios) are not comparable across sources — a web crawl and a code
    corpus occupy different score ranges, so one global threshold
    over-prunes one source and under-prunes the other. Calibrating to
    per-source percentiles first is the standard fix (CCNet buckets
    per-shard perplexity into head/middle/tail the same way); the bin is
    then a source-fair curriculum/selection key.

    Plan shape (the 100 TB design): cume_dist is NOT computed as a
    window over the fact table — that sorts every row within its source
    through one task per source. Instead:

      1. aggregate to the per-(source, score) count frame — combinable,
         map-side partial, shuffle carries |distinct scores| rows;
      2. cumsum + total over THAT frame (window per source over distinct
         scores — tiny for bounded-precision scores; round upstream if
         scores are near-unique floats);
      3. join the (source, score) -> pct map back as a broadcast — right
         for bounded-precision scores. Near-unique float scores at scale
         make the distinct frame fact-table-sized, too large to
         broadcast: round them upstream (step 2).

    ``bin = least(n_bins-1, floor(pct * n_bins))``: a map-only
    expression on both engines (no global ntile — a global ntile window
    is single-task). pct is an exact integer ratio (cum/total), so the
    oracle replays it bit-for-bit via its own cume_dist.

    NULL handling: the pct-map join is a LEFT join, so rows with a NULL
    ``score_col`` OR a NULL ``source_col`` are KEPT with NULL
    ``pct``/``bin`` (an equi-join on NULL never matches) instead of
    silently vanishing — score/attribute them or filter them explicitly
    upstream. Neither kind of row enters the distribution: NULL scores
    must not shift a source's percentiles, and NULL-source rows have no
    source distribution to calibrate against (without the filter they
    would only inflate the distinct pct frame with unreachable groups).
    """
    s, src = F.col(score_col), F.col(source_col)
    # NULL scores and NULL sources are excluded from the distribution
    # itself (see docstring), not just unmatched by the join
    counts = (
        df.where(s.isNotNull() & src.isNotNull())
        .groupBy(src.alias("_src"), s.alias("_score"))
        .agg(F.count("*").alias("_c"))
    )
    w_cum = Window.partitionBy("_src").orderBy("_score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("_src")
    pct_map = counts.select(
        "_src",
        "_score",
        (F.sum("_c").over(w_cum).cast("double") / F.sum("_c").over(w_tot)).alias("pct"),
    )
    joined = df.join(
        F.broadcast(pct_map),
        (src == F.col("_src")) & (s == F.col("_score")),
        "left",
    ).drop("_src", "_score")
    bin_col = F.least(
        F.lit(n_bins - 1).cast("long"), F.floor(F.col("pct") * n_bins)
    )
    # least() skips NULLs on both engines (least(9, NULL) = 9), so gate
    # explicitly: an unscored row gets bin NULL, not the top bin.
    return joined.withColumn(
        "bin", F.when(F.col("pct").isNotNull(), bin_col)
    )


# ---------------------------------------------------------------------------
# corpus snapshot diff


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: per document id, whether it was
    ``added``, ``removed``, ``changed`` (same id, different content
    digest), or ``unchanged`` — the incremental-ingest report that
    decides how much downstream work (re-tokenization, re-embedding,
    re-dedup) a refreshed crawl actually forces, instead of
    re-processing 100 TB because 0.1% moved.

    Contract: ``id_col`` is unique WITHIN each snapshot (a snapshot is a
    keyed table; duplicate ids would cross-multiply in the full-outer
    join). Plan shape: each side collapses to (id, md5(text)) in the
    scan projection — the full-outer join then shuffles two digest
    columns, never document text. The join key is the document id, so the
    exchange is the same one any id-keyed MERGE would need; at 100 TB
    both snapshots would be bucketed by id and the shuffle vanishes
    entirely (the ``io/sinks`` bucketed-upsert layout).
    """
    # Presence comes from explicit side flags, NEVER from digest nullity:
    # md5(NULL text) is NULL, and reading that as side-absence would
    # report a present-but-unextracted document as removed/added.
    o = old.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("_od"),
        F.lit(True).alias("_op"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("_nd"),
        F.lit(True).alias("_np"),
    )
    return (
        o.join(n, "id", "full_outer")
        .withColumn("status", snapshot_status_expr())
        .select("id", "status")
    )


def snapshot_status_expr() -> Column:
    """The snapshot-diff status contract, written down ONCE: given the
    presence flags ``_op``/``_np`` and digests ``_od``/``_nd`` of the
    old/new sides, classify added / removed / changed / unchanged.
    Shared by the batch :func:`snapshot_diff` and the streaming twin
    (``streaming/curation._snapshot_diff_sink_batch``) so the null-safe
    digest semantics (NULL text on one side only IS a content change;
    NULL==NULL is unchanged) cannot drift between the two."""
    return (
        F.when(F.col("_op").isNull(), F.lit("added"))
        .when(F.col("_np").isNull(), F.lit("removed"))
        # null-safe: NULL text on one side only IS a content change
        .when(~F.col("_od").eqNullSafe(F.col("_nd")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )


# ---------------------------------------------------------------------------
# vocabulary growth (Heaps' law)


def vocab_growth(
    df: DataFrame,
    bucket_size: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: documents are bucketed in
    id order (``bucket = id div bucket_size`` — the natural
    crawl-accumulation order, same contract as ``ngram_novelty``), and
    each bucket reports its token count, how many vocabulary types
    appear there FIRST, and the cumulative vocabulary size — the curve
    whose flattening tells a data team a source's lexical yield is
    exhausted (Heaps 1978; the sublinear V(n) ~ K·n^β law).

    Plan shape (the 100 TB design): a type's first occurrence is ONE
    min-aggregation over the exploded token frame keyed by the token
    (combinable, map-side partials; the shuffle carries |vocabulary|
    rows); per-bucket token counts aggregate narrowly from per-doc
    sizes. Only the final cumulative sum runs as a global-order window
    — over the BUCKET frame, whose cardinality is n_docs/bucket_size
    (already thousands of times smaller than the corpus; for a curve
    with millions of buckets, the two-phase cumsum of
    :func:`token_budget_cap` drops in).
    """
    # TRUE integral division (`div` truncates toward zero, exactly like
    # DuckDB's integer `//`): double-division-then-cast would lose
    # precision above 2^53 and round-trip through a float for every row.
    base = df.select(
        F.expr(f"`{id_col}` div {int(bucket_size)}").cast("long").alias("bucket"),
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    toks = base.select("bucket", F.explode("_toks").alias("tok"))
    first_bucket = toks.groupBy("tok").agg(F.min("bucket").alias("bucket"))
    new_types = first_bucket.groupBy("bucket").agg(
        F.count("*").cast("long").alias("new_types")
    )
    tokens_per_bucket = base.groupBy("bucket").agg(
        F.sum(F.size("_toks")).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens_per_bucket.join(new_types, "bucket", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)).cast("long"))
        .withColumn("vocab_size", F.sum("new_types").over(w).cast("long"))
        .select("bucket", "n_tokens", "new_types", "vocab_size")
    )


# ---------------------------------------------------------------------------
# URL-level dedup (canonicalize + keep-best)


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    quality_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level dedup: canonicalize (``url_canonicalize``) and keep ONE
    document per canonical URL — highest ``quality_col`` first (ties to
    the smallest id), or smallest id when no quality column is given.
    This is the cheapest dedup tier a web pipeline runs (FineWeb and
    RefinedWeb both dedup by URL before touching content): it needs no
    text comparison at all, so it goes FIRST and shrinks everything
    downstream.

    Emits every input row with a ``kept`` flag (the auditable form —
    filtering is a trailing ``where``). One shuffle on the canonical
    URL; the canonicalization itself is map-only regex surgery riding
    the same exchange.
    """
    canon = url_canonicalize(df, url_col=url_col)
    order = (
        [F.col(quality_col).desc(), F.col(id_col).asc()]
        if quality_col is not None
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("canon_url").orderBy(*order)
    return canon.withColumn(
        "kept", F.row_number().over(w) == 1
    )


# ---------------------------------------------------------------------------
# training-shard export: size-balanced deterministic shard assignment


def assign_shards(
    df: DataFrame,
    tokens_per_shard: int,
    key_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    seed: str = "s0",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic size-balanced training-shard assignment — the
    export last-mile of a corpus pipeline: every document gets a
    ``shard_id`` such that each shard holds ~``tokens_per_shard``
    tokens, and the assignment is a pure function of document content
    (md5 order), so re-runs, task retries, and incremental re-exports
    write byte-identical shards.

    Convention: documents are laid out on a virtual token tape in
    md5-of-key order; a document belongs to the shard where it STARTS
    (``shard_id = start_offset // tokens_per_shard``) — the same
    keep-the-boundary-crosser convention as ``token_budget_cap`` and
    ``pack_sequences``, so every shard overshoots its budget by less
    than one document and no document is split. A single document
    larger than ``tokens_per_shard`` spans several windows and the next
    document starts in a later one, so shard ids can legitimately skip
    (a giant doc owns an oversized shard) — ids are dense in the
    no-giant-docs regime that document-level gates upstream guarantee.

    Scale: the global cumulative sum runs the same TWO-PHASE form as
    ``token_budget_cap`` (range-bucket the md5 key by its leading hex
    byte → per-bucket windowed cumsums, 256-way parallel → per-bucket
    totals frame → broadcast prefix offsets), but with a GLOBAL key
    space instead of per-source: at 100 TB the corpus-wide ordering
    never serializes into one task. Measured cost model (r11 probe,
    PERF.md): what two-phase BUYS is the 256-way parallel per-bucket
    sort — the thing that is a single task in the ``n_buckets=1`` form
    and therefore impossible at corpus scale; what it PAYS is a second
    map-side pass (scan + tokenize) for the tiny totals aggregate plus
    the extra exchanges, so on one host the serial window stays ~2×
    faster through at least the largest size probed (160k rows) — the
    crossover sits somewhere below the 4M rows where the r3
    token_budget probe measured a 2.8× two-phase win on this host; at
    cluster scale the serial form is not slower but IMPOSSIBLE (one
    task sorts the corpus). Single-host exports below ~10^6 rows
    should simply pass ``n_buckets=1``. When the caller's
    downstream projection drops ``text_col`` (the declared manifest
    query) column pruning keeps both passes narrow; a caller that
    KEEPS text (the export path) ships it through the one bucket
    exchange — unavoidable, the rows must reach their shard.
    ``n_buckets=1`` is the serial single-window fallback the
    equivalence test pins the two-phase form against. Kept
    deliberately separate from ``token_budget_cap`` (which it
    structurally mirrors) so the budget row's declared plan stays
    untouched.

    Output adds ``ord_key`` (the md5 order key — the shard-internal
    sort key for writers), ``n_tokens``, and ``shard_id``.
    """
    tok = F.col(token_col) if token_col else token_count(text_col)
    ord_key = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(seed)))
    # a NULL key has no md5 position on the tape — fail loudly (the
    # two-phase path would otherwise silently DROP the row at the
    # offsets equi-join while n_buckets=1 kept it; review-found r11)
    base = (
        df.withColumn("_n_tok", tok.cast("long"))
        .withColumn("_ord", ord_key)
        .filter(
            F.assert_true(
                F.col("_ord").isNotNull(),
                F.lit(
                    f"assign_shards: NULL {key_col} — every document needs"
                    " a non-null key to take a tape position"
                ),
            ).isNull()
        )
    )
    # _n_tok tiebreaks duplicate keys (an upstream dedup bug) so the
    # cumsum — and therefore every shard boundary — stays deterministic
    # across runs; rows identical in (key, n_tokens) are interchangeable
    if n_buckets <= 1:
        w = Window.orderBy("_ord", "_n_tok").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = base.withColumn("_cum_tok", F.sum("_n_tok").over(w))
    else:
        bkt = F.conv(F.substring("_ord", 1, 2), 16, 10).cast("long")
        base = base.withColumn("_bkt", bkt)
        w_in = Window.partitionBy("_bkt").orderBy("_ord", "_n_tok").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        # totals branch reads from BASE (scan → map-side partial agg →
        # 256-row shuffle), deliberately NOT from the windowed frame: a
        # totals-from-window form was built and measured (r11 probe) —
        # AQE does not stage-reuse the two window subtrees (the
        # assert_true filter defeats canonicalization), so it paid the
        # full-width _bkt exchange + sort TWICE and ran ~5% slower. The
        # cost of this form is a second map-side pass (scan + tokenize)
        # for a tiny aggregate — the same default-recompute trade the
        # weighted-MinHash count frame measured and kept in r8.
        totals = base.groupBy("_bkt").agg(F.sum("_n_tok").alias("_bkt_tot"))
        w_off = Window.orderBy("_bkt").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = totals.select(
            "_bkt",
            F.coalesce(F.sum("_bkt_tot").over(w_off), F.lit(0)).alias("_off"),
        )
        out = (
            base.withColumn("_cum_in_bkt", F.sum("_n_tok").over(w_in))
            .join(F.broadcast(offsets), ["_bkt"])
            .withColumn("_cum_tok", F.col("_off") + F.col("_cum_in_bkt"))
            .drop("_bkt", "_cum_in_bkt", "_off")
        )
    # start offset = cum - n_tok; integral div (the vocab_growth rule:
    # never a double-division-cast for an id). Pre-existing n_tokens/
    # ord_key/shard_id columns are REPLACED (dropped before the renames
    # — e.g. token_col="n_tokens" callers would otherwise get ambiguous
    # duplicates; review-found r11)
    return (
        out.withColumn(
            "shard_id",
            F.expr(f"(_cum_tok - _n_tok) div {int(tokens_per_shard)}"),
        )
        .drop("n_tokens", "ord_key")
        .withColumnRenamed("_ord", "ord_key")
        .withColumnRenamed("_n_tok", "n_tokens")
        .drop("_cum_tok")
    )


def shard_manifest(assigned: DataFrame) -> DataFrame:
    """Per-shard export manifest over :func:`assign_shards` output:
    document count, token total, and the shard's [first_key, last_key]
    md5 order-key range. The range column is what makes shards
    independently writable AND auditable — a writer claims the range,
    and any later incremental export can prove which shard a document
    belongs to without recomputing the global cumsum (its key falls in
    exactly one manifest range).

    One combinable groupBy at shard cardinality (corpus_tokens /
    tokens_per_shard rows — thousands, not billions); every aggregate
    is min/max/sum/count, so the map-side combine does the heavy
    lifting and the final shuffle moves only shard-count rows."""
    return assigned.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("ord_key").alias("first_key"),
        F.max("ord_key").alias("last_key"),
    )


def route_to_shards(
    new_docs: DataFrame,
    manifest: DataFrame,
    key_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """Route NEW documents into an EXISTING shard layout by manifest key
    range alone — the incremental-export dual of :func:`assign_shards`:
    once a corpus has shipped, a crawl delta must not re-run the global
    cumsum (that would renumber every shard); instead each new document
    goes to the shard whose key range claims it — the shard with the
    greatest ``first_key`` <= the document's md5 order key (keys before
    the first shard prepend to it). Shards grow until the owner splits
    them — the standard range-sharding discipline.

    The same ``(key_col, seed)`` pair as the original ``assign_shards``
    run MUST be used, or keys land in foreign ranges (documented
    contract; the round-trip identity — routing a corpus through its
    own manifest reproduces the original assignment — is pinned in
    tests/test_quality_ops.py).

    Scale shape: a naive "latest first_key <= key" is a global-order
    window (serial). This runs the TWO-PHASE form: both sides are
    range-bucketed by the leading md5 hex byte, the as-of fill is a
    per-bucket window (256-way parallel — md5 keys are uniform by
    construction), and documents that precede every manifest row in
    their bucket take a broadcast CARRY — the last manifest shard in
    any earlier bucket — computed from the manifest alone (shard-count
    rows, never corpus rows). The corpus never sorts globally and never
    joins the manifest row-by-row.
    """
    ord_key = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(seed)))
    bkt = lambda c: F.conv(F.substring(c, 1, 2), 16, 10).cast("long")  # noqa: E731

    # pre-existing ord_key/shard_id columns are REPLACED (this operator
    # owns both names in its output; keeping an input shard_id would
    # duplicate the column — review-found r11)
    d = (
        new_docs.drop("ord_key", "shard_id")
        .withColumn("ord_key", ord_key)
        .filter(
            F.assert_true(
                F.col("ord_key").isNotNull(),
                F.lit(
                    f"route_to_shards: NULL {key_col} — a keyless document"
                    " has no position in any shard range"
                ),
            ).isNull()
        )
        .withColumn("_bkt", bkt("ord_key"))
    )
    m = manifest.select(
        F.col("shard_id").alias("_sid"), F.col("first_key").alias("_k")
    ).withColumn("_bkt", bkt("_k"))

    payload = F.struct(*[F.col(c) for c in d.columns])
    d_tag = d.select(
        "_bkt",
        F.col("ord_key").alias("_k"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_sid"),
        payload.alias("_doc"),
    )
    m_tag = m.select(
        "_bkt",
        "_k",
        F.lit(0).alias("_side"),
        F.col("_sid").cast("long").alias("_sid"),
        # cast to the DataType OBJECT — a simpleString round-trip breaks
        # on column names that need quoting (review-found r11)
        F.lit(None).cast(d.select(payload.alias("s")).schema["s"].dataType).alias("_doc"),
    )
    # manifest row sorts BEFORE a doc at the same key (_side 0 < 1): a
    # document whose key equals a shard's first_key belongs to that shard
    w = (
        Window.partitionBy("_bkt")
        .orderBy("_k", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        d_tag.unionByName(m_tag)
        .withColumn("_fill", F.last("_sid", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )

    # cross-bucket carry, from the manifest alone: for each of the 256
    # possible doc buckets, the shard with the max first_key in any
    # STRICTLY EARLIER manifest bucket (a doc bucket with no manifest
    # rows needs the nearest earlier one, so the carry is built on the
    # full grid — both frames are bounded by construction, then
    # broadcast)
    per_bucket_last = m.groupBy("_bkt").agg(F.max_by("_sid", "_k").alias("_own"))
    grid = filled.sparkSession.range(256).select(F.col("id").alias("_bkt"))
    g_tag = grid.join(per_bucket_last, "_bkt", "left")
    w_grid = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    grid_carry = g_tag.select(
        "_bkt",
        F.last("_own", ignorenulls=True).over(w_grid).alias("_carry"),
    )
    # an EMPTY manifest cannot route anything — fail loudly in-plan (the
    # _cap_bucket_size convention) instead of emitting NULL shard_ids
    first_shard = manifest.agg(
        F.min_by("shard_id", "first_key").alias("_first_sid")
    ).filter(
        F.assert_true(
            F.col("_first_sid").isNotNull(),
            F.lit(
                "route_to_shards: empty manifest — no shard ranges to"
                " route into (wrong path or over-filtered manifest?)"
            ),
        ).isNull()
    )

    routed = (
        filled.join(F.broadcast(grid_carry), "_bkt", "left")
        .crossJoin(F.broadcast(first_shard))
        .withColumn(
            "shard_id",
            F.coalesce("_fill", "_carry", "_first_sid").cast("long"),
        )
    )
    cols = [F.col(f"_doc.{c}").alias(c) for c in d.columns if c != "_bkt"]
    return routed.select(*cols, "shard_id")


def split_shard_rows(
    rows: DataFrame, shard_id: int | Column, new_shard_id: int | Column
) -> DataFrame:
    """Pure split arithmetic over ONE shard's rows — the range decision
    behind :func:`token_etl_spark.io.sinks.split_shard` (the lever
    ``route_to_shards``' range-sharding discipline promises: "shards
    grow until the owner splits them").

    Rows stay in the md5-tape order (``ord_key``, ``n_tokens`` — the
    assign_shards tiebreak), the shard-local token cumsum finds the
    first document that STARTS at or past half the shard's tokens (the
    same keep-the-boundary-crosser convention as ``assign_shards``),
    and everything from that document on moves to ``new_shard_id``.
    When no interior document starts past the midpoint (one giant
    trailing document owns most of the tape), the split falls back to
    the document-count midpoint — deterministic either way, and both
    halves are guaranteed non-empty for ``n_docs >= 2``. A 1-document
    shard cannot split (no document is ever cut); the caller refuses.

    The boundary additionally snaps FORWARD to the nearest strict
    ``ord_key`` increase (a "run start"): rows sharing an ``ord_key``
    (duplicate caller-supplied doc keys — ``assign_shards`` tiebreaks
    them by ``n_tokens``, which can also tie) never separate, so the
    halves' (first_key, last_key) ranges stay DISJOINT and the routing
    contract survives regardless of how a window orders tied rows
    (ADVICE r12: an un-tiebroken boundary at a tie made the new
    shard's first_key equal the old shard's last_key). With unique
    keys — the md5-tape norm — every row is a run start and the
    boundary is bit-identical to the plain form, which is what the
    ``ext_shard_split`` oracle replays. A shard whose rows ALL share
    one ``ord_key`` has no strict increase to split at and fails
    loudly in-plan (no split can produce disjoint ranges).

    Scale: the windows here are UNPARTITIONED by design — a shard is
    bounded at ~tokens_per_shard by construction, so this is the
    bounded-frame exception (the 256-row bucket-total rule), never a
    corpus-wide sort. The two scalar aggregates ride broadcast 1-row
    cross joins.

    Returns the rows with a replaced ``shard_id`` column. The two ids
    accept plain ints (the sink path) or Columns already on ``rows``
    (the fully-declarative path the ``ext_shard_split`` oracle replays).
    """
    old_sid = (
        F.lit(int(shard_id)).cast("long")
        if isinstance(shard_id, int)
        else shard_id
    )
    new_sid = (
        F.lit(int(new_shard_id)).cast("long")
        if isinstance(new_shard_id, int)
        else new_shard_id
    )
    w_ord = Window.orderBy("ord_key", "n_tokens")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = (
        rows.drop("shard_id")
        .withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("_cum", F.sum("n_tokens").over(w_cum))
        # a boundary candidate must be a strict ord_key increase — a
        # run of tied keys moves as one block, keeping the halves'
        # key ranges disjoint (see docstring; ADVICE r12)
        .withColumn(
            "_strict",
            F.lag("ord_key").over(w_ord).isNull()
            | (F.lag("ord_key").over(w_ord) != F.col("ord_key")),
        )
    )
    tot = r.agg(
        F.max("_cum").alias("_tot"), F.count("*").cast("long").alias("_n")
    )
    # boundary row = first RUN-START row whose start offset
    # (cum - n_tokens) reaches half the shard; rn > 1 keeps the first
    # half non-empty. Start offsets are non-decreasing in rn, so the
    # crossing predicate is monotone and "first run start at or after
    # the first crossing row" is exactly min(when(cross & strict)).
    bound = (
        r.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    # 2*start >= total, in integers — no double division
                    # anywhere near a boundary decision (the vocab_growth
                    # rule), and trivially oracle-replayable
                    ((F.col("_cum") - F.col("n_tokens")) * 2 >= F.col("_tot"))
                    & (F.col("_rn") > 1)
                    & F.col("_strict"),
                    F.col("_rn"),
                )
            ).alias("_token_bound"),
            # doc-count-midpoint fallback, snapped the same way:
            # rn*2 > n  ⇔  rn >= floor(n/2)+1 for integers
            F.min(
                F.when(
                    (F.col("_rn") * 2 > F.col("_n"))
                    & (F.col("_rn") > 1)
                    & F.col("_strict"),
                    F.col("_rn"),
                )
            ).alias("_mid_bound"),
            # last resort: the LAST run start (a midpoint candidate can
            # sit inside a trailing tie run with no strict increase
            # after it)
            F.max(
                F.when((F.col("_rn") > 1) & F.col("_strict"), F.col("_rn"))
            ).alias("_last_start"),
        )
        .select(
            F.coalesce("_token_bound", "_mid_bound", "_last_start").alias(
                "_bound"
            )
        )
        # all rows sharing one ord_key ⇒ no run start beyond row 1 ⇒ no
        # split yields disjoint ranges — fail loudly in-plan (the
        # empty-manifest convention), never emit overlapping shards
        .filter(
            F.assert_true(
                F.col("_bound").isNotNull(),
                F.lit(
                    "split_shard_rows: every row shares one ord_key —"
                    " no boundary can produce disjoint key ranges"
                    " (duplicate doc keys upstream?)"
                ),
            ).isNull()
        )
    )
    return (
        r.crossJoin(F.broadcast(bound))
        .withColumn(
            "shard_id",
            F.when(F.col("_rn") >= F.col("_bound"), new_sid)
            .otherwise(old_sid)
            .cast("long"),
        )
        .drop("_rn", "_cum", "_strict", "_bound")
    )


_MANIFEST_COLS = ("shard_id", "n_docs", "shard_tokens", "first_key", "last_key")


def plan_shard_maintenance(
    manifest: DataFrame,
    tokens_per_shard: int,
    split_factor: int = 2,
    merge_budget_num: int = 1,
    merge_budget_den: int = 1,
) -> DataFrame:
    """Maintenance RECOMMENDATIONS over the manifest — the policy
    observable beside the :func:`~token_etl_spark.io.sinks.split_shard`
    / :func:`~token_etl_spark.io.sinks.merge_shards` levers (the
    index-health/retrain pairing: the audit says WHETHER the layout is
    sound, this says WHICH levers to pull): per shard, ``action`` is

    - ``'split'`` when the shard holds more than ``split_factor ×
      tokens_per_shard`` tokens AND has >= 2 documents (a 1-doc shard
      cannot split — no document is ever cut);
    - ``'merge_with_next'`` when the shard plus its RANGE-ADJACENT
      successor fit within ``tokens_per_shard × merge_budget_num /
      merge_budget_den`` (integer cross-multiplied — no doubles near a
      maintenance decision, the vocab_growth rule);
    - ``'ok'`` otherwise.

    Recommendations may OVERLAP (A+B and B+C can both qualify); the
    operator's contract is apply-one / re-audit / repeat — maintenance
    is iterative by nature and the report is recomputed from the
    manifest in milliseconds. Pure manifest-cardinality arithmetic
    (one bounded lead() window — the 256-row bucket-total exception),
    driver-proven as ``ext_shard_plan``. Emits (shard_id, n_docs,
    shard_tokens, next_shard_id, pair_tokens, action) in range order;
    the last shard's pair columns are NULL."""
    w = Window.orderBy("first_key")
    m = (
        manifest.select("shard_id", "n_docs", "shard_tokens", "first_key")
        .withColumn("next_shard_id", F.lead("shard_id").over(w))
        .withColumn("pair_tokens", F.col("shard_tokens") + F.lead("shard_tokens").over(w))
    )
    tps = F.lit(int(tokens_per_shard)).cast("long")
    action = (
        F.when(
            (F.col("shard_tokens") > F.lit(int(split_factor)) * tps)
            & (F.col("n_docs") >= 2),
            F.lit("split"),
        )
        .when(
            F.col("pair_tokens").isNotNull()
            & (
                F.col("pair_tokens") * F.lit(int(merge_budget_den))
                <= tps * F.lit(int(merge_budget_num))
            ),
            F.lit("merge_with_next"),
        )
        .otherwise(F.lit("ok"))
    )
    return m.select(
        "shard_id", "n_docs", "shard_tokens", "next_shard_id",
        "pair_tokens", action.alias("action"),
    )


def merge_shard_rows(
    manifest: DataFrame,
    shard_id_keep: int | Column,
    shard_id_drop: int | Column,
) -> DataFrame:
    """Pure merge arithmetic over the MANIFEST — the dual of
    :func:`split_shard_rows` and the range decision behind
    :func:`token_etl_spark.io.sinks.merge_shards` (the lever that folds
    two undersized adjacent ranges back together: a corpus that shrinks
    under aggressive dedup, or a split that later proves premature,
    otherwise leaves permanent sliver shards wasting file handles).

    The two manifest rows fold into ONE under ``shard_id_keep``: doc
    counts and token totals add, the key range becomes the union
    ``[min(first_key), max(last_key)]``. Routing is by key RANGE
    (greatest ``first_key`` <= key), so when the pair is ADJACENT the
    merged row's range is exactly the pair's combined range and every
    document inside routes to the kept shard while documents outside
    route identically — adjacency is validated by the production lever
    (it has the manifest collected); this pure form asserts in-plan
    that BOTH shards exist (folding a missing shard would silently
    "merge" one row into itself).

    Scale: manifest-cardinality arithmetic only — one bounded filter +
    a 1-row aggregate; no corpus row is ever touched here. The ids
    accept plain ints (the sink path) or Columns already on
    ``manifest`` (the fully-declarative path the ``ext_shard_merge``
    oracle replays)."""
    keep = (
        F.lit(int(shard_id_keep)).cast("long")
        if isinstance(shard_id_keep, int)
        else shard_id_keep
    )
    drop = (
        F.lit(int(shard_id_drop)).cast("long")
        if isinstance(shard_id_drop, int)
        else shard_id_drop
    )
    pair_cond = (F.col("shard_id") == keep) | (F.col("shard_id") == drop)
    # The existence assert must live on a frame that is NON-EMPTY in
    # every failure mode: an assert inside the pair-filtered groupBy
    # never evaluates when NEITHER id matches (the filter yields zero
    # groups), silently returning the manifest unchanged instead of the
    # promised loud failure (ADVICE r13). A whole-manifest 1-row
    # aggregate always produces its row — count_distinct over the
    # pair-matched ids is 2 only when both shards exist and are
    # distinct — and rides into the result as a broadcast guard the
    # build side always materializes. The assert sits in a FILTER on
    # that 1-row aggregate (a projected-then-dropped assert column is
    # pruned away by Catalyst and never evaluates — measured).
    guard = (
        manifest.agg(
            F.count_distinct(
                F.when(pair_cond, F.col("shard_id"))
            ).alias("_np")
        )
        .filter(
            F.assert_true(
                F.col("_np") == 2,
                F.lit(
                    "merge_shard_rows: both shards must exist in the"
                    " manifest (and be distinct) — folding a missing"
                    " shard would silently merge one row into itself"
                    " (or no-op when neither id matches)"
                ),
            ).isNull()
        )
        .select(F.lit(True).alias("_chk"))
    )
    merged = (
        manifest.where(pair_cond)
        .groupBy(keep.cast("long").alias("shard_id"))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("shard_tokens").cast("long").alias("shard_tokens"),
            F.min("first_key").alias("first_key"),
            F.max("last_key").alias("last_key"),
        )
    )
    untouched = manifest.where(~pair_cond).select(*_MANIFEST_COLS)
    return (
        untouched.unionByName(merged)
        .crossJoin(F.broadcast(guard))
        .drop("_chk")
    )


def merge_min_pair(
    manifest: DataFrame,
    tokens_per_shard: int,
    merge_budget_num: int = 1,
    merge_budget_den: int = 1,
) -> DataFrame:
    """ONE turn of the maintenance loop's merge crank, fully
    declarative: fold the qualifying adjacent pair with the smallest
    COMBINED token total (ties to the smaller ``first_key`` — exactly
    the pair :func:`plan_shard_maintenance` flags first and
    :func:`token_etl_spark.io.sinks.apply_shard_maintenance` merges
    first), or return the manifest UNCHANGED when no adjacent pair fits
    within ``tokens_per_shard × merge_budget_num / merge_budget_den``
    (integer cross-multiplied — no doubles near a maintenance
    decision). The null-safe identity case is what lets the apply-one /
    re-plan / repeat fixpoint be expressed as a bounded chain of these
    steps with no driver-side collect (the ``ext_shard_apply`` driver
    row iterates it; the production executor's per-step merge choice is
    pinned equal to this arithmetic in tests/test_sinks.py).

    Scale: manifest-cardinality only — one bounded lead() window (the
    256-row bucket-total exception), a 1-row min_by broadcast, one
    bounded filter + aggregate; no corpus row is ever touched."""
    tps = F.lit(int(tokens_per_shard)).cast("long")
    w = Window.orderBy("first_key")
    pairs = manifest.select(
        F.col("shard_id").alias("_cand_k"),
        "first_key",
        F.lead("shard_id").over(w).alias("_cand_d"),
        (F.col("shard_tokens") + F.lead("shard_tokens").over(w)).alias(
            "_comb"
        ),
    ).where(
        F.col("_cand_d").isNotNull()
        & (
            F.col("_comb") * F.lit(int(merge_budget_den))
            <= tps * F.lit(int(merge_budget_num))
        )
    )
    best = pairs.agg(
        F.min_by(
            F.struct(F.col("_cand_k"), F.col("_cand_d")),
            F.struct(F.col("_comb"), F.col("first_key")),
        ).alias("_p")
    ).select(
        F.col("_p._cand_k").cast("long").alias("_ksid"),
        F.col("_p._cand_d").cast("long").alias("_dsid"),
    )
    m2 = manifest.crossJoin(F.broadcast(best))
    # NULL _ksid (no qualifying pair) makes is_pair FALSE for every row
    # — the identity case: everything lands in `untouched`
    is_pair = F.col("_ksid").isNotNull() & (
        (F.col("shard_id") == F.col("_ksid"))
        | (F.col("shard_id") == F.col("_dsid"))
    )
    merged = (
        m2.where(is_pair)
        .groupBy(F.col("_ksid").cast("long").alias("shard_id"))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("shard_tokens").cast("long").alias("shard_tokens"),
            F.min("first_key").alias("first_key"),
            F.max("last_key").alias("last_key"),
        )
    )
    untouched = m2.where(~is_pair).select(*_MANIFEST_COLS)
    return untouched.unionByName(merged)


# ---------------------------------------------------------------------------
# domain-level reputation gate (crawl curation tier above the document)


def registered_domain(url: Column | str) -> Column:
    """Registered domain of a URL: lowercased host (userinfo and port
    stripped, trailing dot removed), last TWO labels kept
    ('news.example.com' → 'example.com') — the public-suffix-LITE
    simplification, declared openly: multi-label suffixes
    ('example.co.uk' → 'co.uk') group under their suffix, which is
    conservative for a REPUTATION gate (it can only merge domains,
    never split one) but means country-code 2LDs share a bucket;
    :func:`with_registered_domain` takes a broadcast public-suffix
    table when precision at the ccTLD tail matters (VERDICT r11 item
    6). IPv4 hosts stay WHOLE (grouping addresses by their
    last two octets would pool unrelated servers). Bare hosts without
    a scheme are accepted (crawl metadata often stores them); values
    with no registrable host (single label, empty, garbage) yield
    NULL, never '' — so unparseable URLs cannot pool into one
    pseudo-domain whose reputation governs them all (review-found
    r11). All patterns RE2-and-Java-compatible (oracle-replayable);
    host extraction handles userinfo and fragments, a superset of
    ``url_canonicalize``'s declared scope."""
    host = _host_expr(url)
    is_ipv4 = host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$")
    two_label = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    # a whitespace-bearing "host" is garbage, not a domain — without
    # this gate 'http://x y.z/' pools junk into pseudo-domains and the
    # wave-6 no-junk invariant is false (review-found r12)
    dom = (
        F.when(host.rlike(_HOST_JUNK), F.lit(None).cast("string"))
        .when(is_ipv4, host)
        .otherwise(two_label)
    )
    return F.when(dom == "", F.lit(None).cast("string")).otherwise(dom)


#: whitespace anywhere in an extracted host marks it non-registrable
#: (explicit ASCII class — the RE2/Java \s dialect rule)
_HOST_JUNK = "[ \t\r\n\x0b\f]"


def _host_expr(url: Column | str) -> Column:
    """Lowercased host of a URL: scheme dropped, authority isolated,
    userinfo stripped through the LAST '@' (greedy .* is safe because
    the authority contains no '/', and a lazy/charclass form stops at
    the FIRST '@', leaking 'b@host' from a malformed 'a@b@host'; ADVICE
    r11), then the port, then any trailing dot (FQDN spelling)."""
    u = F.col(url) if isinstance(url, str) else url
    authority = F.regexp_extract(
        F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", ""),
        r"^([^/?#]+)",
        1,
    )
    return F.lower(
        F.regexp_replace(
            F.regexp_extract(authority, r"^(?:.*@)?([^:]+)", 1),
            r"\.$",
            "",
        )
    )


def with_registered_domain(
    df: DataFrame,
    url_col: str = "url",
    suffixes: DataFrame | None = None,
    out_col: str = "domain",
) -> DataFrame:
    """Add the registered domain of ``url_col`` as ``out_col``.

    ``suffixes=None`` is the public-suffix-LITE rule
    (:func:`registered_domain` — last two labels). Passing a suffix
    table — one ``suffix`` string column of public suffixes
    ('com', 'co.uk', 'com.au', …; the PSL is just another parquet
    dimension) — selects the PRECISE path: the host's longest matching
    suffix (checked at 3, 2, then 1 trailing labels — real PSL entries
    beyond 3 labels are vanishingly rare and merge conservatively under
    the 3-label check; wildcard/exception PSL rules are out of scope,
    documented) plus one more label is the registered domain, so
    bbc.co.uk and example.co.uk stop sharing one reputation bucket. A
    host that IS a public suffix ('co.uk') has no registrable domain →
    NULL. Hosts matching NO table suffix fall back to the lite rule —
    the table upgrades precision where it has coverage and never
    degrades below lite elsewhere. IPv4 hosts stay whole, exactly as
    in the lite rule.

    Plan shape: THREE broadcast left joins of the corpus against the
    suffix dimension (one per candidate length) — the 100 TB side never
    shuffles, the same discipline as ``domain_filter``'s keep-list.
    """
    if suffixes is None:
        return df.withColumn(out_col, registered_domain(F.col(url_col)))
    staged = df.withColumn("_rd_host", _host_expr(F.col(url_col)))
    lasts = {
        1: F.regexp_extract(F.col("_rd_host"), r"([^.]+)$", 1),
        2: F.regexp_extract(F.col("_rd_host"), r"([^.]+\.[^.]+)$", 1),
        3: F.regexp_extract(F.col("_rd_host"), r"([^.]+\.[^.]+\.[^.]+)$", 1),
    }
    # blank suffix rows would equi-join the '' regexp_extract miss
    # value and collapse every 2-label host into malformed
    # pseudo-domains (review-found r12) — drop them
    suf = (
        suffixes.select(F.lower(F.trim(F.col("suffix"))).alias("_rd_suffix"))
        .where(F.length("_rd_suffix") > 0)
        .distinct()
    )
    for k in (3, 2, 1):
        dim = suf.withColumnRenamed("_rd_suffix", f"_rd_m{k}")
        staged = staged.withColumn(f"_rd_l{k}", lasts[k]).join(
            F.broadcast(dim),
            F.col(f"_rd_l{k}") == F.col(f"_rd_m{k}"),
            "left",
        )
    matched = F.coalesce(F.col("_rd_m3"), F.col("_rd_m2"), F.col("_rd_m1"))
    prefix = F.expr(
        "substr(_rd_host, 1, length(_rd_host) - length("
        "coalesce(_rd_m3, _rd_m2, _rd_m1)) - 1)"
    )
    prev_label = F.regexp_extract(prefix, r"([^.]+)$", 1)
    lite = F.regexp_extract(F.col("_rd_host"), r"([^.]+\.[^.]+)$", 1)
    dom = (
        F.when(F.col("_rd_host").rlike(_HOST_JUNK), F.lit(None).cast("string"))
        .when(F.col("_rd_host").rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$"), F.col("_rd_host"))
        .when(
            matched.isNotNull() & (prev_label != ""),
            F.concat(prev_label, F.lit("."), matched),
        )
        .when(matched.isNotNull(), F.lit(None).cast("string"))
        .otherwise(lite)
    )
    return staged.withColumn(
        out_col,
        F.when(dom == "", F.lit(None).cast("string")).otherwise(dom),
    ).drop(
        "_rd_host", "_rd_l1", "_rd_l2", "_rd_l3", "_rd_m1", "_rd_m2", "_rd_m3"
    )


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    quality_col: str | None = None,
    dup_col: str | None = None,
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """Per-registered-domain reputation aggregates — the curation tier
    ABOVE the document (FineWeb/RefinedWeb prune whole domains before
    spending per-document compute): document count, corpus share, and
    when provided the mean quality score and duplicate rate.
    Non-registrable URLs (domain NULL) are excluded — they have no
    domain reputation; ``domain_filter`` flags them domain_kept=False.
    One combinable groupBy at domain cardinality (millions of rows at web
    scale — small next to the corpus; the share divisor rides a
    broadcast 1-row total, the skew_profile pattern). ``suffixes``
    selects the precise public-suffix path of
    :func:`with_registered_domain` (ccTLD sites stop pooling). Output:
    (domain, n_docs, doc_share[, mean_quality][, dup_rate])."""
    dom = with_registered_domain(
        df, url_col=url_col, suffixes=suffixes, out_col="domain"
    ).select(
        "domain",
        *( [F.col(quality_col).cast("double").alias("_q")] if quality_col else [] ),
        *( [F.col(dup_col).cast("int").alias("_d")] if dup_col else [] ),
    )
    dom = dom.where(F.col("domain").isNotNull())
    aggs = [F.count("*").alias("n_docs")]
    if quality_col:
        aggs.append(F.avg("_q").alias("mean_quality"))
    if dup_col:
        aggs.append(F.avg("_d").alias("dup_rate"))
    stats = dom.groupBy("domain").agg(*aggs)
    total = stats.agg(F.sum("n_docs").alias("_total"))
    return (
        stats.crossJoin(F.broadcast(total))
        .withColumn("doc_share", F.col("n_docs") / F.col("_total"))
        .drop("_total")
    )


def fit_and_save_domain_stats(
    spark,
    df: DataFrame,
    path: str,
    url_col: str = "url",
    quality_col: str | None = None,
    dup_col: str | None = None,
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """Fit :func:`domain_stats` AND persist it with accurate
    provenance in one call — the ``export_shards`` shape (the export
    runs ``assign_shards`` itself, so its recorded params cannot lie):
    because the fit and the stamp share one ``suffixes`` argument, the
    recorded rule is correct BY CONSTRUCTION, where the two-call
    ``domain_stats(...)`` + :func:`save_domain_stats` form trusts the
    caller to repeat the same table twice. Returns the saved frame
    read back."""
    stats = domain_stats(
        df,
        url_col=url_col,
        quality_col=quality_col,
        dup_col=dup_col,
        suffixes=suffixes,
    )
    save_domain_stats(spark, stats, path, suffixes=suffixes)
    return load_domain_stats(spark, path, suffixes=suffixes)


def refresh_domain_stats(
    spark,
    df: DataFrame,
    path: str,
    url_col: str = "url",
    quality_col: str | None = None,
    dup_col: str | None = None,
    suffixes: DataFrame | None = None,
    allow_rule_change: bool = False,
) -> DataFrame:
    """Periodic domain-reputation REFRESH — the maintenance entry point
    the docs promise ("reputation refreshes as a periodic batch job"):
    recompute :func:`domain_stats` over the CURRENT corpus and swap it
    into ``path`` atomically with its provenance stamp
    (:func:`fit_and_save_domain_stats` — the fit and the stamp share
    one ``suffixes`` argument, so the recorded rule cannot lie). A
    continuing stream gated by
    :func:`token_etl_spark.streaming.curation.run_streaming_domain_gate`
    picks the new keep-list up on its NEXT micro-batch with no restart
    (the gate re-loads the tree per batch — the IVF serving sink's
    centroids re-read pattern; the retrain-lever shape, applied to the
    domain gate).

    The fit/apply discipline holds ACROSS refreshes too: when the tree
    already exists, the caller's ``suffixes`` must match the RECORDED
    rule — silently refreshing a psl-fit tree under the lite rule (or
    a different table) would re-key every domain under the continuing
    stream's feet, the exact mismatch :func:`load_domain_stats` exists
    to refuse. Pass ``allow_rule_change=True`` to migrate the rule
    deliberately (streams loading under the old rule then refuse
    loudly on their next batch instead of silently matching nothing).

    Returns the refreshed frame read back through the validated
    loader."""
    from token_etl_spark.io.sinks import _bucket_fs, _heal_full_swap

    base = path.rstrip("/")
    _heal_full_swap(spark, path)
    fs, hpath = _bucket_fs(spark, path)
    if fs.exists(hpath(f"{base}/params")) and not allow_rule_change:
        rule, digest = _suffix_fingerprint(suffixes)
        params = spark.read.parquet(f"{base}/params").collect()[0]
        if (params["rule"], params["suffix_md5"]) != (rule, digest):
            raise ValueError(
                f"refresh_domain_stats: the tree at {path} is fit under "
                f"rule={params['rule']!r} "
                f"(suffix_md5={params['suffix_md5']!r}) but this refresh "
                f"uses rule={rule!r} (suffix_md5={digest!r}) — a silent "
                "rule change would re-key every domain under continuing "
                "readers; pass allow_rule_change=True to migrate "
                "deliberately"
            )
    return fit_and_save_domain_stats(
        spark,
        df,
        path,
        url_col=url_col,
        quality_col=quality_col,
        dup_col=dup_col,
        suffixes=suffixes,
    )


def save_domain_stats(
    spark,
    stats: DataFrame,
    path: str,
    suffixes: DataFrame | None = None,
) -> None:
    """Persist a :func:`domain_stats` reputation frame WITH its
    registered-domain-rule provenance — the fit/apply discipline the
    shard export's (key_col, seed) params established: a stats frame
    keyed under the lite rule applied under a suffix table (or under a
    DIFFERENT suffix table) matches nothing and silently drops every
    ccTLD document, so the rule that built the frame is recorded
    beside it and :func:`load_domain_stats` refuses a mismatch loudly.

    ``<path>/stats`` holds the frame; ``<path>/params`` holds one row
    ``(rule, suffix_md5)`` where rule is 'lite' or 'psl' and
    suffix_md5 is the md5 of the sorted deduplicated canonicalized
    suffix list ('' for lite) — content-addressed, so any semantic
    edit to the table is a different fingerprint while spelling
    variations the operator itself ignores (case, padding, blanks,
    duplicates) are not.

    Commit protocol: stats and params commit together through the
    whole-tree swap (``io.sinks._full_swap``) — a "stats then params"
    in-place overwrite would leave a crash window where NEW stats sit
    beside STALE params and a later load validates the wrong rule
    successfully, re-enabling the exact silent mismatch this feature
    exists to prevent (review-found r12). The swap refuses to commit a
    staging that lost either half mid-write (ADVICE r13), and its
    readers never delete an in-flight staging, so a periodic
    :func:`refresh_domain_stats` may run beside streaming gates that
    load the tree every micro-batch.
    CALLER CONTRACT: ``suffixes`` here must be the table the frame was
    FIT with — prefer :func:`fit_and_save_domain_stats`, which cannot
    record a wrong stamp."""
    from token_etl_spark.io.sinks import _full_swap

    def write_params(params_dir: str) -> None:
        rule, digest = _suffix_fingerprint(suffixes)
        spark.createDataFrame(
            [(rule, digest)], "rule string, suffix_md5 string"
        ).write.parquet(params_dir)

    _full_swap(spark, path, {"stats": stats.write.parquet, "params": write_params})


def is_saved_domain_stats(spark, path: str) -> bool:
    """True when ``path`` is a :func:`save_domain_stats` provenance
    tree (``stats`` + ``params`` beside each other) rather than a bare
    parquet frame. Reads a crash-interrupted save in place
    (``io.sinks._committed_tree``), so a swap that marked its staging
    but did not rename it still reads as a provenance tree. Lets
    callers handed
    "a domain-stats path" (the CLI) route a provenance tree through
    :func:`load_domain_stats`'s rule validation instead of silently
    reading ``<path>`` raw and bypassing the fit/apply check
    (ADVICE r12)."""
    from token_etl_spark.io.sinks import _bucket_fs, _committed_tree

    base = _committed_tree(spark, path).rstrip("/")
    fs, hpath = _bucket_fs(spark, path)
    return fs.exists(hpath(f"{base}/params")) and fs.exists(
        hpath(f"{base}/stats")
    )


def load_domain_stats(
    spark,
    path: str,
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """Load a saved reputation frame, validating that the caller's
    ``suffixes`` setting matches the one the frame was FIT under
    (see :func:`save_domain_stats`); raises ValueError on mismatch
    instead of silently flagging every document domain_kept=False.
    Reads a crash-interrupted save's marked staging in place
    (``io.sinks._committed_tree``) and changes nothing on disk, so it
    never races a concurrent :func:`refresh_domain_stats`."""
    from token_etl_spark.io.sinks import _committed_tree

    base = _committed_tree(spark, path).rstrip("/")
    rule, digest = _suffix_fingerprint(suffixes)
    params = spark.read.parquet(f"{base}/params").collect()[0]
    if (params["rule"], params["suffix_md5"]) != (rule, digest):
        raise ValueError(
            f"domain stats at {path} were fit under rule="
            f"{params['rule']!r} (suffix_md5={params['suffix_md5']!r}) but "
            f"are being loaded under rule={rule!r} "
            f"(suffix_md5={digest!r}) — a mismatched registered-domain "
            "rule keys the frame differently and silently drops every "
            "ccTLD document; pass the same suffixes the fit used"
        )
    return spark.read.parquet(f"{base}/stats")


def _canon_suffixes(suffixes: DataFrame) -> list[str]:
    """Sorted canonical suffix list computed THROUGH THE ENGINE — the
    byte-identical ``F.lower(F.trim(...))`` + drop-blank + distinct the
    in-plan join of ``with_registered_domain`` applies. Python
    ``str.lower()``/``str.strip()`` approximations diverge from the
    JVM's case mapping on a handful of codepoints ('İ', 'ß' …), so a
    driver-side replica can disagree with the join it claims to mirror
    (ADVICE r12); one canonicalization now governs the join, the
    blocklist replay, and the provenance fingerprint. Bounded collect:
    the suffix table is broadcast-sized by contract."""
    rows = (
        suffixes.select(F.lower(F.trim(F.col("suffix"))).alias("_s"))
        .where(F.length("_s") > 0)
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows)


def _suffix_fingerprint(suffixes: DataFrame | None) -> tuple[str, str]:
    """Content fingerprint of a suffix table under the SAME
    canonicalization ``with_registered_domain`` applies (lower +
    space-trim + drop-blank + DEDUPLICATE) — semantically identical
    tables must fingerprint identically, or a valid load gets a
    spurious refusal (review-found r12: a duplicate or case-variant
    row is invisible to the join but changed the hash). Canonicalized
    via :func:`_canon_suffixes` — through the engine, never a Python
    string-method replica (ADVICE r12)."""
    import hashlib

    if suffixes is None:
        return "lite", ""
    vals = _canon_suffixes(suffixes)
    return "psl", hashlib.md5("\n".join(vals).encode()).hexdigest()


def domain_filter(
    df: DataFrame,
    stats: DataFrame,
    url_col: str = "url",
    min_docs: int = 1,
    min_mean_quality: float | None = None,
    max_dup_rate: float | None = None,
    blocklist: tuple[str, ...] = (),
    suffixes: DataFrame | None = None,
) -> DataFrame:
    """Apply a domain-reputation keep decision to the corpus: a domain
    survives when it clears ``min_docs``, the optional
    ``min_mean_quality`` / ``max_dup_rate`` bounds over a
    :func:`domain_stats` frame, and is not blocklisted. Emits every
    input row with ``domain`` and a ``domain_kept`` flag (the auditable
    form — filtering is a trailing ``where``, the ``url_dedup``
    convention).

    Plan shape: the keep-list is domain-cardinality (small side by
    construction) and joins BROADCAST onto the corpus — the 100 TB side
    never shuffles; the decision column is computed once on the stats
    frame so the reject reasons stay auditable there, not re-derived
    per document.

    CONTRACT: ``stats`` must have been built with the SAME ``suffixes``
    setting as this call (both lite, or both the same table) — the
    same fit/apply discipline as the shard router's (key_col, seed)
    params. A lite-keyed stats frame applied under a suffix table keys
    'co.uk' while the corpus emits 'bbc.co.uk': nothing matches, and
    every ccTLD document silently flags ``domain_kept=False``."""
    # blocklist entries must BE registered domains — a subdomain entry
    # ('tracker.evil.com') would compare against 'evil.com' and silently
    # never match (review-found r11); refuse instead of silently
    # reducing, so the operator's intent stays visible. Under the
    # precise suffix-table path a registered domain can legitimately
    # have 3+ labels (bbc.co.uk), so only the 1-label/empty degenerate
    # cases are structurally refusable there.
    # under the precise path, replay the longest-suffix-match rule
    # driver-side (the table is broadcast-sized by contract) so a
    # subdomain entry is refused exactly as the lite path refuses it —
    # accepting 'tracker.evil.co.uk' would silently never match the
    # emitted 'evil.co.uk' (review-found r12)
    suffix_set: set[str] | None = None
    if suffixes is not None and blocklist:
        # the SAME canonicalization the in-plan join applies, computed
        # through the engine itself (one case mapping governs the join,
        # this replay, and the provenance fingerprint — ADVICE r12)
        suffix_set = set(_canon_suffixes(suffixes))
    for b in blocklist:
        labels = b.lower().rstrip(".").split(".")
        is_ip = len(labels) == 4 and all(x.isdigit() for x in labels)
        if suffix_set is not None:
            if len(labels) < 2 or any(not x for x in labels):
                raise ValueError(
                    f"domain_filter blocklist entry {b!r} cannot be a"
                    " registered domain (fewer than two labels)"
                )
            if is_ip:
                continue
            if ".".join(labels) in suffix_set:
                raise ValueError(
                    f"domain_filter blocklist entry {b!r} IS a public"
                    " suffix under the supplied table — no registrable"
                    " domain ever equals it, so the entry would silently"
                    " never match"
                )
            matched = next(
                (
                    k
                    for k in (3, 2, 1)
                    if len(labels) > k and ".".join(labels[-k:]) in suffix_set
                ),
                None,
            )
            # registered domain = longest matching suffix + ONE label;
            # an entry with extra leading labels is a subdomain. With no
            # table match the lite two-label rule applies, as in-plan.
            expected = (
                len(labels) == matched + 1 if matched else len(labels) == 2
            )
            if not expected:
                tail = (
                    ".".join(labels[-(matched + 1):]) if matched
                    else ".".join(labels[-2:])
                )
                raise ValueError(
                    f"domain_filter blocklist entry {b!r} is not a"
                    " registered domain under the supplied suffix table —"
                    f" pass {tail!r} to block the whole domain"
                )
            continue
        if not is_ip and len(labels) != 2:
            # only propose the trailing two labels when they don't look
            # like a public suffix themselves — for 'tracker.evil.co.uk'
            # suggesting 'co.uk' would blocklist every .co.uk domain
            # under the lite rule (ADVICE r11; both-labels-≤3-chars is
            # the cheap ccSLD heuristic)
            tail = ".".join(labels[-2:])
            looks_public_suffix = all(len(x) <= 3 for x in labels[-2:])
            hint = (
                " — the trailing two labels look like a public suffix,"
                " so there is no safe whole-domain replacement to suggest"
                if looks_public_suffix
                else f" — pass {tail!r} to block the whole domain"
            )
            raise ValueError(
                f"domain_filter blocklist entry {b!r} is not a registered"
                " domain under the public-suffix-lite rule (exactly two"
                f" labels, or a whole IPv4 address){hint}"
            )
    keep = F.col("n_docs") >= int(min_docs)
    if min_mean_quality is not None:
        keep = keep & (F.col("mean_quality") >= float(min_mean_quality))
    if max_dup_rate is not None:
        keep = keep & (F.col("dup_rate") <= float(max_dup_rate))
    for b in sorted(blocklist):
        keep = keep & (F.col("domain") != b.lower().rstrip("."))
    decisions = stats.select("domain", keep.alias("domain_kept"))
    out = with_registered_domain(
        df, url_col=url_col, suffixes=suffixes, out_col="domain"
    )
    return out.join(F.broadcast(decisions), "domain", "left").withColumn(
        "domain_kept", F.coalesce("domain_kept", F.lit(False))
    )
