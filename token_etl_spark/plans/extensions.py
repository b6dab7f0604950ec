"""LLM-data-pipeline extension queries: dedup, text analysis, similarity
search, multimodal plumbing (BASELINE.json north star) over the driver's
``documents`` and ``embeddings`` tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from token_etl_spark.functions.timeops import unix_seconds
from token_etl_spark.operators import dedup as D
from token_etl_spark.operators import sketch as K
from token_etl_spark.operators import similarity as S
from token_etl_spark.operators import text as X
from token_etl_spark.operators.multimodal import (
    attach_binary_payload,
    decode_features,
    extract_media_features,
    resize_raw_images,
)
from token_etl_spark.plans.base import QuerySpec, fan_narrow, t

# DuckDB fragment: the engine's canonical tokenizer (operators/text.py
# tokens()) — lowercase, strip non-alnum, split on whitespace, drop empties.
SQL_TOKENS = (
    "list_filter(string_split_regex(trim(regexp_replace(lower({col}), '[^a-z0-9\\s]', ' ', 'g')),"
    " '\\s+'), x -> x != '')"
)


# --- exact dedup -----------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- text analysis ---------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_narrow(t(spark, sf_dir, "documents"))
    return X.quality_stats(docs).select(
        "doc_id",
        F.col("char_len").cast("long").alias("char_len"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("stopword_ratio_en", 6).alias("stopword_ratio_en"),
    )


_TOKS = SQL_TOKENS.format(col="text")
_EN_STOP = "['" + "','".join(X.STOPWORDS["en"]) + "']"

SQL_TEXT_STATS = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS char_len,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(toks) > 0
             THEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE) / len(toks)
             ELSE 0.0 END, 6) AS mean_token_len,
       round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS alpha_ratio,
       round(CAST(len(list_intersect(list_distinct(toks), {_EN_STOP})) AS DOUBLE)
             / greatest(len(list_distinct(toks)), 1), 6) AS stopword_ratio_en
FROM base
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (type-token ratio, top-token share)."""
    docs = t(spark, sf_dir, "documents")
    return X.repetition_stats(docs)


SQL_REPETITION_STATS = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(count(*) AS DOUBLE) / sum(c) AS type_token_ratio,
       CAST(max(c) AS DOUBLE) / sum(c) AS top_token_share
FROM cnt GROUP BY doc_id
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    out = X.language_id(docs)
    cols = ["doc_id", "lang_pred"] + [f"score_{lang}" for lang in sorted(X.STOPWORDS)]
    out = out.select(
        "doc_id",
        "lang_pred",
        *[F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in sorted(X.STOPWORDS)],
    )
    return out


def _langid_pieces() -> tuple[list[str], str]:
    """(per-language score expressions, argmax CASE) — shared by the
    langid oracle and the confusion-matrix oracle so the heuristic is
    written down exactly once."""
    score_exprs = []
    for lang in sorted(X.STOPWORDS):
        words = "['" + "','".join(X.STOPWORDS[lang]) + "']"
        score_exprs.append(
            f"CAST(len(list_intersect(list_distinct(toks), {words})) AS BIGINT) AS score_{lang}"
        )
    langs = sorted(X.STOPWORDS)
    m = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + m + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN score_{lang} = {m} THEN '{lang}' "
    case += "END"
    return score_exprs, case


def _langid_sql() -> str:
    score_exprs, case = _langid_pieces()
    langs = sorted(X.STOPWORDS)
    return f"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM base)
SELECT doc_id, {case} AS lang_pred, {', '.join('score_' + lang for lang in langs)}
FROM scored
"""


SQL_TEXT_LANGID = _langid_sql()


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-prediction agreement matrix for the stopword langid
    heuristic (operators/text.langid_confusion) — the eval report that
    scopes where the cheap in-engine classifier suffices."""
    docs = t(spark, sf_dir, "documents")
    return X.langid_confusion(docs, label_col="lang")


def _langid_confusion_sql() -> str:
    """The langid CASE replayed per doc (``_langid_pieces`` — the one
    written-down heuristic), rolled into the (label, pred) matrix."""
    score_exprs, case = _langid_pieces()
    return f"""
WITH base AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
scored AS (SELECT doc_id, lang, {', '.join(score_exprs)} FROM base),
pred AS (SELECT lang AS lang_label, {case} AS lang_pred FROM scored),
m AS (SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2)
SELECT lang_label, lang_pred, n_docs,
       CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang_label)
         AS label_share
FROM m
"""


SQL_LANGID_CONFUSION = _langid_confusion_sql()


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return X.fingerprint(docs).select("doc_id", "fp_set")


SQL_TEXT_FINGERPRINT = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp_set
FROM documents
"""


# --- winnowing fingerprints (MOSS) -----------------------------------------

WINNOW_K = 3
WINNOW_W = 4


CDC_WINDOW = 8
CDC_MASK_BITS = 5
CDC_PRIME = 31


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/text.py cdc_chunks —
    Rabin-style rolling-hash boundaries, LBFS 2001): one row per chunk
    with its md5, the chunk-hash inventory revision-level dedup joins
    across corpus snapshots. Integer-exact polynomial hash, so the
    oracle replays every boundary bit-for-bit."""
    from token_etl_spark.operators.text import cdc_chunks

    docs = t(spark, sf_dir, "documents")
    return cdc_chunks(
        docs, window=CDC_WINDOW, mask_bits=CDC_MASK_BITS, prime=CDC_PRIME
    )


# CAST each term: ascii() yields INT32 and the high powers overflow it
_CDC_POLY = " + ".join(
    f"CAST(codes[i - {j}] AS BIGINT) * {CDC_PRIME**j}" for j in range(CDC_WINDOW)
)

SQL_CDC_CHUNKS = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
c AS (
  SELECT doc_id, text, n,
         list_transform(range(1, n + 1), i -> ascii(text[i])) AS codes
  FROM d),
b AS (
  SELECT doc_id, text, n,
         CASE WHEN n >= {CDC_WINDOW} THEN
           list_filter(range({CDC_WINDOW}, n + 1),
                       i -> ({_CDC_POLY}) % {1 << CDC_MASK_BITS} = 0 AND i < n)
         ELSE [] END AS cuts
  FROM c),
k AS (
  SELECT doc_id, text,
         list_concat(list_concat([0], cuts), [n]) AS cuts2
  FROM b),
s AS (
  SELECT doc_id, text, cuts2, unnest(range(1, len(cuts2))) AS j
  FROM k)
SELECT doc_id,
       CAST(j - 1 AS BIGINT) AS chunk_idx,
       CAST(cuts2[j + 1] - cuts2[j] AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(cuts2[j] + 1 AS INTEGER),
                  CAST(cuts2[j + 1] - cuts2[j] AS INTEGER))) AS chunk_hash
FROM s
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators/text.py
    winnow_fingerprints; Schleimer et al. 2003): per-window minimum of
    the md5-prefix shingle hashes, ties to the rightmost position. The
    whole operator is one narrow projection (array ops + explode, no
    shuffle); the oracle replays hash, windows, and the (h, -pos)
    struct-min tie rule exactly — struct comparison is lexicographic in
    both engines."""
    docs = t(spark, sf_dir, "documents")
    out = X.winnow_fingerprints(docs, k=WINNOW_K, window=WINNOW_W)
    return out.select(F.col("id").alias("doc_id"), "pos", "fp")


# Shared winnowing CTE chain (base -> grams -> per-window struct-min
# selection). Row-level DISTINCT downstream = the engine's per-doc
# array_distinct (each struct is (h, np, p) with np/p determined by
# pos); DuckDB's list_distinct does not support struct elements.
_WINNOW_CTE = f"""base AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
g AS (SELECT doc_id, tk, len(tk) AS m FROM base WHERE len(tk) >= {WINNOW_K}),
grams AS (
  SELECT doc_id,
         list_transform(range(1, m - {WINNOW_K} + 2), i -> struct_pack(
           h := CAST('0x' || substr(md5(array_to_string(
                  tk[i:i+{WINNOW_K - 1}], ' ')), 1, 15) AS BIGINT),
           np := -i, p := CAST(i AS INT))) AS gr
  FROM g),
sel AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(gr) - {WINNOW_W - 1}, 1) + 1),
           j -> list_min(gr[j:j+{WINNOW_W - 1}]))) AS s
  FROM grams)"""

SQL_WINNOWING = f"""
WITH {_WINNOW_CTE}
SELECT DISTINCT doc_id, s.p AS pos, s.h AS fp FROM sel
"""

WINNOW_OVERLAP_THRESHOLD = 0.15


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS pairwise overlap (operators/text.py winnow_overlap_pairs):
    documents joined on shared winnowed fingerprints, ranked by
    containment of the smaller fingerprint set. Exact integers
    everywhere except the final division (same IEEE op both engines)."""
    docs = t(spark, sf_dir, "documents")
    out = X.winnow_overlap_pairs(
        docs, k=WINNOW_K, window=WINNOW_W, threshold=WINNOW_OVERLAP_THRESHOLD
    )
    return out.select(
        "id_a", "id_b", "n_shared", "n_a", "n_b", F.round("overlap", 6).alias("overlap")
    )


SQL_WINNOW_OVERLAP = f"""
WITH {_WINNOW_CTE},
fps AS (SELECT DISTINCT doc_id, s.h AS fp FROM sel),
sizes AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_shared,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       round(CAST(n_shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) >= {WINNOW_OVERLAP_THRESHOLD}
"""


# --- n-gram Jaccard near-dup (exact pairwise baseline) ---------------------

JACCARD_THRESHOLD = 0.3


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=JACCARD_THRESHOLD)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _jaccard_pairs_ctes(threshold: float) -> str:
    """toks/sh/sizes/p0/pairs CTE chain: the exact 3-gram Jaccard pair
    set (id_a < id_b, unrounded jaccard >= threshold) over ``documents``
    — ONE definition shared by SQL_NGRAM_JACCARD (also the
    ext_minhash_neardup oracle), SQL_DEDUP_AUDIT_SAMPLE, and
    SQL_SOURCE_OVERLAP_MATRIX, so a shingle-width or threshold change
    can never silently diverge one of them."""
    return f"""toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 1) + 1),
           i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
p0 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM p0
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold})"""


SQL_NGRAM_JACCARD = f"""
WITH {_jaccard_pairs_ctes(JACCARD_THRESHOLD)}
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
"""


# --- duplication-factor histogram -------------------------------------------


def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-inflation profile (operators/dedup.
    dup_inflation_profile): cluster-size histogram of exact duplicates
    with each multiplicity's corpus share — the report that sizes the
    dedup win before running it (Lee et al. 2022). The gate corpus is
    dup-free by construction, so a deterministic re-crawl is unioned in
    (%10 docs twice, %100 docs four times) to populate sizes 1/2/4;
    the corpus total derives from the digest counts frame (one scan)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.where(F.col("doc_id") % 10 == 0)
    recrawl2 = docs.where(F.col("doc_id") % 100 == 0)
    corpus = docs.unionByName(recrawl).unionByName(recrawl2).unionByName(recrawl2)
    out = D.dup_inflation_profile(corpus)
    return out.select(
        "cluster_size", "n_clusters", "n_docs", F.round("share", 9).alias("share")
    )


SQL_DUP_INFLATION = """
WITH corpus AS (
  SELECT text FROM documents
  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT text FROM documents WHERE doc_id % 100 = 0
  UNION ALL SELECT text FROM documents WHERE doc_id % 100 = 0),
counts AS (SELECT md5(text) AS d, count(*) AS c FROM corpus GROUP BY 1),
hist AS (
  SELECT c AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
  FROM counts GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM counts)
SELECT cluster_size, n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       round(CAST(cluster_size * n_clusters AS DOUBLE) / t, 9) AS share
FROM hist CROSS JOIN tot
"""


# --- stratified near-dup audit sample ----------------------------------------


def q_dedup_audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-stratified audit slate (operators/dedup.dedup_audit_sample)
    over the exact n-gram Jaccard pairs: up to 5 md5-ranked pairs per
    0.1-wide similarity band — the deterministic human-review sample
    that validates a dedup threshold without eyeballing every pair."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=JACCARD_THRESHOLD)
    out = D.dedup_audit_sample(pairs, k_per_band=5, n_bands=10)
    return out.select(
        "band", "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"), "sample_rank"
    )


SQL_DEDUP_AUDIT_SAMPLE = f"""
WITH {_jaccard_pairs_ctes(JACCARD_THRESHOLD)},
banded AS (
  SELECT id_a, id_b, jaccard,
         least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS band,
         md5(CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR)) AS rk
  FROM pairs),
ranked AS (
  SELECT band, id_a, id_b, jaccard,
         CAST(row_number() OVER (PARTITION BY band ORDER BY rk) AS BIGINT)
           AS sample_rank
  FROM banded)
SELECT band, id_a, id_b, round(jaccard, 6) AS jaccard, sample_rank
FROM ranked WHERE sample_rank <= 5
"""


def q_dedup_audit_sample_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit slate fed from the DEDUP PIPELINE'S OWN LSH pairs
    (operators/dedup.minhash_dedup → dedup_audit_sample's pairs-frame
    seam) — the composition that actually runs at 100 TB, where the
    report's upstream is never a fresh all-pairs-sharing-a-shingle join
    but the banded candidates the dedup pass already verified. The
    exact-pairs twin (``ext_dedup_audit_sample``) stays as the declared
    baseline; the EXACT oracle is a true oracle here because LSH band
    recall is complete on the gate corpus, pair for pair
    (tests/test_dedup_oracle_parity.py::test_lsh_pair_set_equals_exact_
    pair_set), and the verify's Jaccard is exact on both paths."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(
        docs, k=3, num_hashes=32, bands=8, threshold=JACCARD_THRESHOLD
    )
    out = D.dedup_audit_sample(pairs, k_per_band=5, n_bands=10)
    return out.select(
        "band", "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"), "sample_rank"
    )


# --- cross-source duplication matrix -----------------------------------------


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (operators/dedup.
    source_overlap_matrix): the exact near-dup pairs grouped by
    unordered source pair — which feeds mirror each other (the
    RefinedWeb/FineWeb cross-dump overlap report that scopes dedup)."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=JACCARD_THRESHOLD)
    return D.source_overlap_matrix(pairs, docs.select("doc_id", "source"))


SQL_SOURCE_OVERLAP_MATRIX = f"""
WITH {_jaccard_pairs_ctes(JACCARD_THRESHOLD)},
lab AS (
  SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b)
SELECT least(sa, sb) AS source_lo, greatest(sa, sb) AS source_hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1, 2
"""


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold-tuning curve (operators/dedup.
    dedup_threshold_curve) over the pipeline's own LSH-verified pairs:
    per-0.05-band pair counts + the cumulative count at or above each
    band — the report that picks the dedup cutoff. Same pairs-frame
    seam and oracle-validity argument as ``q_dedup_audit_sample_lsh``
    (LSH pair set == exact set on gate data, pinned)."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(
        docs, k=3, num_hashes=32, bands=8, threshold=JACCARD_THRESHOLD
    )
    return D.dedup_threshold_curve(pairs, step=0.05)


SQL_DEDUP_THRESHOLD_CURVE = f"""
WITH {_jaccard_pairs_ctes(JACCARD_THRESHOLD)},
banded AS (
  SELECT floor(jaccard * 20) / 20 AS band_lo,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1)
SELECT band_lo, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY band_lo DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_pairs_at_or_above
FROM banded
"""


def q_source_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level semantic redundancy (operators/similarity.
    source_centroid_similarity): pairwise cosine between per-source mean
    embeddings, via the documents↔embeddings id join. Per-dim mean
    accumulation order is the declared k-means-oracle float caveat;
    the 6-dp canonicalization both gates apply absorbs it."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    labeled = emb.join(docs, emb.vec_id == docs.doc_id).select("source", "v")
    return S.source_centroid_similarity(labeled)


SQL_SOURCE_CENTROID_SIM = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
lab AS (SELECT d.source AS label, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id),
dims AS (SELECT label,
                unnest(list_transform(range(len(v)),
                       i -> {'dim': i, 'x': v[CAST(i+1 AS INT)]})) AS s
         FROM lab),
cent AS (SELECT label, s.dim AS dim, avg(s.x) AS m FROM dims GROUP BY 1, 2),
norms AS (SELECT label, sqrt(sum(m * m)) AS norm FROM cent GROUP BY 1),
dots AS (SELECT a.label AS source_a, b.label AS source_b, sum(a.m * b.m) AS dot
         FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
         GROUP BY 1, 2)
SELECT source_a, source_b,
       CASE WHEN na.norm * nb.norm > 0 THEN dot / (na.norm * nb.norm) END
         AS cosine_sim
FROM dots
JOIN norms na ON na.label = source_a
JOIN norms nb ON nb.label = source_b
"""


def q_source_overlap_matrix_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix fed from the dedup pipeline's own
    MinHash+LSH pairs (the 100 TB composition — see
    ``q_dedup_audit_sample_lsh`` for the oracle-validity argument; the
    operator's pairs-frame seam is source-agnostic by design)."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(
        docs, k=3, num_hashes=32, bands=8, threshold=JACCARD_THRESHOLD
    )
    return D.source_overlap_matrix(pairs, docs.select("doc_id", "source"))


# --- embedding-space outlier screen ------------------------------------------


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space junk screen (operators/similarity.
    embedding_outliers): nearest-centroid assignment (deterministic
    sampled quantizer — the ext_ann_ivf discipline) + per-cluster
    z-score on the winning cosine; off-manifold rows flag as outliers.
    z carries the distributed mean/std accumulation caveat — compared
    rounded to 6dp, same as evt_anomaly_zscore."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.embedding_outliers(emb, n_centroids=16, threshold=2.0)
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("centroid_sim", 6).alias("centroid_sim"),
        F.round("z", 6).alias("z"),
        "is_outlier",
    )


SQL_EMBEDDING_OUTLIERS = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT vec_id, centroid_id, sim FROM (
    SELECT e.vec_id, c.centroid_id,
           list_cosine_similarity(e.v, c.cv) AS sim,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
stats AS (
  SELECT centroid_id, avg(sim) AS mu, stddev_samp(sim) AS sd
  FROM asg GROUP BY 1)
SELECT a.vec_id, CAST(a.centroid_id AS BIGINT) AS centroid_id,
       round(a.sim, 6) AS centroid_sim,
       round(CASE WHEN sd > 0 THEN (a.sim - mu) / sd END, 6) AS z,
       coalesce(CASE WHEN sd > 0 THEN abs((a.sim - mu) / sd) > 2.0 END, FALSE)
         AS is_outlier
FROM asg a JOIN stats USING (centroid_id)
"""


# --- MinHash+LSH / SimHash -------------------------------------------------
#
# Oracle strategy: LSH emits a SUBSET of the exact-Jaccard pair set (every
# emitted pair is Jaccard-verified); whether the subset is the WHOLE set
# depends on band recall. On the driver's documents tables the near-dup
# pairs are all far above the band-recall knee, and the engine is
# deterministic (murmur3 + fixed data), so the emitted set provably equals
# the exact set — verified pair-for-pair at sf0.001/sf0.01/sf0.1 by
# tests/test_dedup_oracle_parity.py. That makes the exact-Jaccard SQL
# (same as ext_ngram_jaccard's) a true oracle for the LSH path, and the
# recursive-closure connected components a true oracle for the cluster
# and keep-list paths.

def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-form MinHash+LSH near-dup — the small-scale VERIFIER
    (ext_minhash_clusters' star form is the 100 TB path). The explicit
    ``max_bucket`` exercises the quadratic-emission guard on the gate
    corpus itself: the in-plan window count runs (and passes — no gate
    bucket is near 10k), so the guarded path is driver-proven, not just
    pinned by the local OOM-fixture test (tests/test_dedup.py)."""
    # NOT fanned (fan_narrow): minhash_dedup's lazy shingle-array
    # checkpoint sits over the source — an upstream exchange would
    # materialize its shuffle stage at plan build and break the
    # no-jobs-at-build gate (measured −0.75 s forgone at sf0.1).
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(
        docs, k=3, num_hashes=32, bands=8, threshold=JACCARD_THRESHOLD,
        max_bucket=10_000,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_weighted_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-weighted MinHash near-dup (operators/dedup.py
    weighted_minhash_dedup — Chum 2008 integer-expansion weighted
    min-hash, weights = min(tf, 16) throughout). DECLARED SEMANTIC as
    ext_minhash_neardup: band-colliding subset, every emission verified
    by exact weighted Jaccard; parity with the exact pair set pinned at
    three SFs in tests/test_dedup_oracle_parity.py, making the exact
    weighted-Jaccard SQL below a true oracle."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.weighted_minhash_dedup(
        docs, k=3, num_hashes=32, bands=8, threshold=JACCARD_THRESHOLD,
        max_weight=16, max_bucket=10_000,
    )
    return pairs.select("id_a", "id_b", F.round("wjaccard", 6).alias("wjaccard"))


SQL_WEIGHTED_NEARDUP = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
shr AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(tk) - 2, 1) + 1),
           i -> array_to_string(tk[i:i+2], ' '))) AS shingle
  FROM toks),
cnt AS (
  SELECT doc_id, shingle, least(count(*), 16) AS c
  FROM shr GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
com AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
  FROM cnt a JOIN cnt b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(m AS DOUBLE) / (ta.n + tb.n - m), 6) AS wjaccard
FROM com
JOIN tot ta ON ta.doc_id = id_a
JOIN tot tb ON tb.doc_id = id_b
WHERE CAST(m AS DOUBLE) / (ta.n + tb.n - m) >= {JACCARD_THRESHOLD}
"""


# DuckDB 1.0: every CTE chain that uses recursion needs the RECURSIVE
# keyword on the WITH; the non-recursive members are unaffected.
def _cc_sql_body(threshold: float, source: str = "documents") -> str:
    """Shared WITH-clause members: exact-Jaccard pairs over ``source``
    → symmetrized edges → transitive closure → (id, component=min id)."""
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS tk FROM {source}),
shg AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 1) + 1),
           i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shg a JOIN shg b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold}),
edges AS (SELECT id_a AS u, id_b AS v FROM prs UNION SELECT id_b, id_a FROM prs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u)
"""


SQL_MINHASH_CLUSTERS = (
    f"WITH RECURSIVE {_cc_sql_body(JACCARD_THRESHOLD)} SELECT id, component FROM comp"
)

SQL_DEDUP_KEEP_LIST = f"""
WITH RECURSIVE {_cc_sql_body(JACCARD_THRESHOLD)}
SELECT id AS doc_id, (id = component) AS keep FROM comp
UNION ALL
SELECT doc_id, TRUE AS keep FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp)
"""


def _simhash_sql(bits: int = 32) -> str:
    """SimHash over the portable md5-based 32-bit token hash — DuckDB
    reproduces the engine's fingerprints bit-for-bit."""
    votes = ", ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    pack = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(bits)
    )
    return f"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM tok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id AS id, CAST({pack} AS BIGINT) AS simhash FROM votes
"""


SQL_SIMHASH = _simhash_sql(32)


def _simhash_fp_cte(bits: int = 32) -> str:
    """Shared fingerprint CTE body (md5-based portable hash), reused by
    SQL_SIMHASH and SQL_SIMHASH_NEARDUP."""
    votes = ", ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    pack = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(bits)
    )
    return f"""base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM tok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id AS id, CAST({pack} AS BIGINT) AS fp FROM votes)"""


def _simhash_neardup_sql(bits: int = 32, bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB replay of the hamming-LSH pipeline: same banding (bit
    slices), same bucket join, same popcount verify — with
    max_hamming < bands the banded result provably equals the all-pairs
    hamming filter, so the replay doubles as an exactness witness."""
    bw = bits // bands
    mask = (1 << bw) - 1
    return f"""
WITH {_simhash_fp_cte(bits)},
banded AS (
  SELECT id, fp, band, (fp >> (band * {bw})) & {mask} AS val
  FROM fp CROSS JOIN (SELECT unnest(range(0, {bands})) AS band)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM banded a JOIN banded b USING (band, val)
  WHERE a.id < b.id),
scored AS (
  SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
  FROM cand)
SELECT id_a, id_b, hamming FROM scored WHERE hamming <= {max_hamming}
"""


SQL_SIMHASH_NEARDUP = _simhash_neardup_sql(32, 4, 3)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-LSH near-dup over SimHash fingerprints (bands=4,
    max_hamming=3): with max_hamming < bands the banding has PERFECT
    recall (pigeonhole on bit-slice disagreements), so the bucketed join
    returns exactly the all-pairs hamming-<=3 set without ever forming
    all pairs. md5-portable hash so the oracle replays the fingerprints
    bit-for-bit."""
    docs = t(spark, sf_dir, "documents")
    return D.simhash_neardup(docs, bits=32, bands=4, max_hamming=3, hash_fn=D.md5_hash32)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the md5-based portable hash (``md5_hash32``) so the
    oracle recomputes the exact fingerprints; the murmur3 default stays
    the perf path (property-tested in tests/test_dedup.py)."""
    docs = t(spark, sf_dir, "documents")
    return D.simhash(docs, bits=32, hash_fn=D.md5_hash32)


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup decision: MinHash+LSH pairs → connected
    components → one representative per cluster + all singletons."""
    from token_etl_spark.operators.graph import dedup_keep_list

    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup(docs, threshold=JACCARD_THRESHOLD)
    # pairs are distinct with id_a < id_b (LSH candidate contract) — CC
    # skips its edge-dedup shuffle
    return dedup_keep_list(pairs, docs, pairs_ordered_distinct=True)


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-output near-dup clustering: LSH star edges (k-1 per bucket
    instead of k(k-1)/2 pairs) → verify → connected components. The
    100 TB-safe form of ext_dedup_keep_list's pair stage."""
    docs = t(spark, sf_dir, "documents")
    return D.minhash_dedup_clusters(docs, threshold=JACCARD_THRESHOLD)


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split (operators/curation.py cluster_safe_split):
    near-dup clusters from ``minhash_dedup_clusters`` move into
    train/val/test AS A UNIT (split decided by md5 of the cluster
    representative; singletons key on themselves) — the
    eval-decontamination composition of the dedup stack with
    ``hash_split``. Oracle: the recursive connected-components replay
    LEFT JOINed onto documents, then the same md5 bucket thresholds."""
    docs = t(spark, sf_dir, "documents")
    from token_etl_spark.operators.curation import cluster_safe_split

    clusters = D.minhash_dedup_clusters(docs, threshold=JACCARD_THRESHOLD)
    out = cluster_safe_split(docs, clusters)
    return out.select("doc_id", "split_key", "split")


SQL_CLUSTER_SAFE_SPLIT = f"""
WITH RECURSIVE {_cc_sql_body(JACCARD_THRESHOLD)},
keyed AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
b AS (
  SELECT doc_id, split_key,
         CAST('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 6) AS BIGINT)
           % 100 AS bkt
  FROM keyed)
SELECT doc_id, split_key,
       CASE WHEN bkt < 10 THEN 'test'
            WHEN bkt < 20 THEN 'val'
            ELSE 'train' END AS split
FROM b
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention (operators/graph.py
    keep_best_in_cluster): near-dup clusters from
    ``minhash_dedup_clusters``, but the kept representative is the
    LONGEST document of each cluster (``n_chars``, ties → min doc_id)
    instead of the min-id pick of ext_dedup_keep_list — the
    FineWeb/Gopher retention policy, composed with the same LSH
    star-edge + connected-components cluster stage. Oracle: the
    recursive connected-components replay joined to ``n_chars`` with
    the same (score DESC, id) window."""
    from token_etl_spark.operators.graph import keep_best_in_cluster

    docs = t(spark, sf_dir, "documents")
    clusters = D.minhash_dedup_clusters(docs, threshold=JACCARD_THRESHOLD)
    return keep_best_in_cluster(
        clusters, docs.select("doc_id", F.col("n_chars").alias("score"))
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_cc_sql_body(JACCARD_THRESHOLD)},
scored AS (
  SELECT c.id, c.component, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.id),
best AS (
  SELECT id, row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, id) AS rn
  FROM scored)
SELECT id AS doc_id, (rn = 1) AS keep FROM best
UNION ALL
SELECT doc_id, TRUE AS keep FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp)
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup against a persisted MinHash index
    (operators/dedup.py minhash_index_frame / minhash_match_index): the
    'new crawl' (doc_id % 13 != 0) matches the 'already-kept' reference
    (doc_id % 13 = 0) WITHOUT re-shingling the reference — the LSH
    analog of ext_crosscorpus_dedup's exact-digest scan, and the
    steady-state daily-dedup shape at 100 TB.

    DECLARED SEMANTIC (same as ext_minhash_neardup, see the module
    comment above q_minhash_neardup): the engine emits the
    band-colliding subset of the exact cross-set Jaccard pairs, every
    emission verified; the exact-Jaccard SQL is a true oracle only
    because on the gate corpora every qualifying pair sits far above the
    band-recall knee (8 bands × 4 rows ≈ 40% collision probability AT
    the 0.5 threshold — near-threshold pairs at other scales may
    legitimately diverge). Pair-parity vs the unbanded exact join is
    pinned at sf0.001/0.01/0.1 in tests/test_dedup_oracle_parity; a
    caller needing guaranteed recall at an arbitrary scale should raise
    ``bands`` or run the exact ``ngram_jaccard_pairs`` verifier."""
    docs = t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 13 == 0)
    new = docs.where(F.col("doc_id") % 13 != 0)
    # In production the index IS a persisted parquet table (that is the
    # operator's point); the lazy checkpoint is the in-query stand-in so
    # the gate doesn't re-derive ref signatures once per consumer
    # (banding, bucket counts, verify — measured 14 s → 2.9 s at sf0.1).
    index = D.minhash_index_frame(ref).localCheckpoint(eager=False)
    out = D.minhash_match_index(new, index, threshold=JACCARD_THRESHOLD)
    return out.select(
        "id_new", "id_ref", F.round("jaccard", 6).alias("jaccard")
    )


SQL_INCREMENTAL_NEARDUP = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 1) + 1),
           i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_new, b.doc_id AS id_ref, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 13 <> 0 AND b.doc_id % 13 = 0
  GROUP BY 1, 2)
SELECT id_new, id_ref,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_new
JOIN sizes sb ON sb.doc_id = id_ref
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


# --- similarity search -----------------------------------------------------

def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_BRUTEFORCE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


NEARDUP_COSINE = 0.35


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.expr(S.cosine("va", "vb")))
        .filter(F.col("cosine_sim") >= NEARDUP_COSINE)
        .select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))
    )


SEMDECON_COSINE = 0.35


def q_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (operators/similarity.py semantic_decontaminate): every corpus
    vector scored against the full broadcast benchmark set, flagged at
    cosine >= 0.35 — the semantic complement of the shingle scans
    (ext_decontaminate / ext_bloom_decontaminate), for paraphrased
    leakage that shares no exact n-gram. Map-only plan: one broadcast
    row, no shuffle."""
    emb = t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 17 == 0)
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    out = S.semantic_decontaminate(corpus, bench, threshold=SEMDECON_COSINE)
    return out.select(
        "id",
        "best_match",
        F.round("best_sim", 6).alias("best_sim"),
        "contaminated",
    )


SQL_SEMANTIC_DECON = f"""
WITH b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id % 17 = 0),
c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 17 <> 0),
s AS (SELECT id, bid, list_cosine_similarity(v, bv) AS sim FROM c CROSS JOIN b),
r AS (SELECT id, bid, sim,
             row_number() OVER (PARTITION BY id ORDER BY sim DESC, bid) AS rn
      FROM s)
SELECT id, bid AS best_match, round(sim, 6) AS best_sim,
       sim >= {SEMDECON_COSINE} AS contaminated
FROM r WHERE rn = 1
"""


CONTAINMENT_MAX_DF = 20
CONTAINMENT_THRESHOLD = 0.5


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (operators/dedup.py
    containment_pairs): rare-shingle blocking (df <= 20 — a declared
    semantic the oracle replays, and the bound that keeps per-shingle
    pair emission at df(df-1)/2) + exact |∩|/min(|A|,|B|) verify —
    the quote/inclusion case Jaccard-banded LSH structurally misses."""
    docs = t(spark, sf_dir, "documents")
    out = D.containment_pairs(
        docs, k=3, max_df=CONTAINMENT_MAX_DF, threshold=CONTAINMENT_THRESHOLD
    )
    return out.select(
        "id_a", "id_b", "n_common", "n_a", "n_b",
        F.round("containment", 6).alias("containment"),
    )


SQL_CONTAINMENT_DEDUP = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 1) + 1),
           i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
         WHERE df <= {CONTAINMENT_MAX_DF}),
bl AS (SELECT doc_id, shingle FROM sh JOIN rare USING (shingle)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bl a JOIN bl b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile (operators/text.py
    lexical_diversity): type-token ratio, hapax share, head dominance —
    exact integer counting with three final divisions (the
    transcendental-free stand-in for a Zipf-slope fit)."""
    docs = t(spark, sf_dir, "documents")
    out = X.lexical_diversity(docs, group_col="source")
    return out.select(
        "source", "n_tokens", "n_distinct", "n_hapax",
        F.round("type_token_ratio", 6).alias("type_token_ratio"),
        F.round("hapax_ratio", 6).alias("hapax_ratio"),
        F.round("top_share", 6).alias("top_share"),
    )


SQL_LEXICAL_DIVERSITY = f"""
WITH occ AS (SELECT source AS g, unnest({_TOKS}) AS tok FROM documents),
pt AS (SELECT g, tok, count(*) AS c FROM occ GROUP BY 1, 2)
SELECT g AS source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_share
FROM pt GROUP BY 1
"""


SQL_EMBEDDING_NEARDUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {NEARDUP_COSINE}
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k. Fully oracled: the hyperplanes are
    deterministic literals (seeded numpy), so the DuckDB oracle embeds the
    SAME plane constants and replays bucketing + in-bucket ranking with
    list_inner_product/list_cosine_similarity — an exact hash-match
    contract, not a tolerance bound. Sign flips would need |dot| ~ 1e-15
    (never observed; swept at sf0.001/0.01/0.1)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.lsh_topk(emb, queries, k=10, n_planes=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k (sampled quantizer, n_probe=4 of 16 cells). Fully
    oracled: centroid choice is deterministic (first 16 corpus ids), so
    the DuckDB oracle replays assignment → probe ranking → in-cell
    ranking exactly — hash-match, not tolerance."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def _plane_literal(plane: list[float]) -> str:
    """One hyperplane as a DuckDB DOUBLE[] literal. repr() gives the
    shortest round-trip float string, so DuckDB parses the bit-identical
    double Spark uses (the planes enter the Spark plan as F.lit of the
    same Python floats)."""
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _ann_lsh_sql(k: int = 10, n_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    planes = S._hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {_plane_literal(p)}) > 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
s AS (
  SELECT query_id, b.vec_id AS neighbor_id, list_cosine_similarity(qv, b.v) AS sim
  FROM q JOIN b USING (bucket) WHERE query_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_LSH = _ann_lsh_sql()


LSH_MP_PLANES = 6
LSH_MP_HAMMING = 1


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (operators/similarity.py
    lsh_multiprobe_topk — each query also probes every bucket within
    Hamming distance 1 of its code; see the operator docstring for the
    recall/comparisons frontier argument and PERF.md for the measured
    curve). Same exact-replay contract as ``ext_ann_lsh``: plane
    constants are literals in both engines, the probe masks are integer
    literals, and the flip is a bitwise XOR both engines compute
    identically."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.lsh_multiprobe_topk(
        emb, queries, k=10, n_planes=LSH_MP_PLANES, probe_hamming=LSH_MP_HAMMING
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_lsh_multiprobe_sql(
    k: int = 10,
    n_planes: int = LSH_MP_PLANES,
    probe_hamming: int = LSH_MP_HAMMING,
    dim: int = 64,
    seed: int = 42,
) -> str:
    import itertools

    planes = S._hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {_plane_literal(p)}) > 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    masks = [0]
    for d in range(1, probe_hamming + 1):
        for comb in itertools.combinations(range(n_planes), d):
            masks.append(sum(1 << b_ for b_ in comb))
    mask_list = ", ".join(str(m_) for m_ in masks)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
q AS (SELECT query_id, qv, xor(bucket, mask) AS bucket
      FROM q0 CROSS JOIN (SELECT unnest([{mask_list}]) AS mask)),
s AS (
  SELECT query_id, b.vec_id AS neighbor_id, list_cosine_similarity(qv, b.v) AS sim
  FROM q JOIN b USING (bucket) WHERE query_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_LSH_MULTIPROBE = _ann_lsh_multiprobe_sql()


LSH_MG_PLANES = 6
LSH_MG_T = 3


def q_ann_lsh_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-ranked multi-probe LSH (Lv et al.'s actual probe
    selection): each query flips only the ``probe_t`` planes whose
    boundary it sits nearest (smallest |q·plane|), probing T+1 buckets —
    measured ~17% better recall than fixed-bit flips at equal probe
    count (PERF.md). The oracle replays the margin ranking with the
    PINNED-FOLD dot product (matching Spark's left fold term-for-term —
    list_inner_product is only ever used for the sign, never for
    ordering), ties on the plane index."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.lsh_multiprobe_topk(
        emb, queries, k=10, n_planes=LSH_MG_PLANES, probe_t=LSH_MG_T
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_lsh_margin_sql(
    k: int = 10,
    n_planes: int = LSH_MG_PLANES,
    probe_t: int = LSH_MG_T,
    dim: int = 64,
    seed: int = 42,
) -> str:
    planes = S._hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {_plane_literal(p)}) > 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    values = ", ".join(
        f"({b}, {_plane_literal(p)})" for b, p in enumerate(planes)
    )
    dotfold = (
        f"list_aggregate(list_transform(range(1, {dim + 1}),"
        " i -> q0.qv[CAST(i AS INT)] * pl.pv[CAST(i AS INT)]), 'sum')"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
pl(pb, pv) AS (VALUES {values}),
mg AS (SELECT q0.query_id, pl.pb, abs({dotfold}) AS m FROM q0 CROSS JOIN pl),
sel AS (SELECT query_id, pb FROM (
          SELECT query_id, pb,
                 row_number() OVER (PARTITION BY query_id ORDER BY m, pb) AS rn
          FROM mg) WHERE rn <= {probe_t}),
mk AS (SELECT query_id, (1::BIGINT << pb) AS mask FROM sel
       UNION ALL SELECT query_id, CAST(0 AS BIGINT) AS mask FROM q0),
q AS (SELECT q0.query_id, q0.qv, xor(q0.bucket, mk.mask) AS bucket
      FROM q0 JOIN mk USING (query_id)),
s AS (
  SELECT query_id, b.vec_id AS neighbor_id, list_cosine_similarity(qv, b.v) AS sim
  FROM q JOIN b USING (bucket) WHERE query_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_LSH_MARGIN = _ann_lsh_margin_sql()


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the spherical-k-means-trained quantizer (refine_iters=2)
    — the scale path with the tighter cells (recall table in PERF.md).
    Fully oracled: k-means init is the deterministic corpus sample and
    Lloyd iterations are pure float arithmetic, so the DuckDB oracle
    unrolls both training iterations (assign → per-cell/per-dim mean →
    renormalize) and replays the probe/rank search exactly.

    Oracle assumption: the per-cell/per-dim ``avg`` is float arithmetic
    whose accumulation order is NOT pinned on either engine (Spark
    partition order, DuckDB group order), so centroid coordinates can in
    principle differ in the last ulp and flip a near-tie assignment or
    rank. The ``fan_narrow`` below widens that exposure: fanning the
    embeddings source changes the partition layout and therefore the
    fold order relative to the unfanned plan (equivalence pinned
    bit-exactly at sf0.01/sf0.1 in the r15 fan validation — an
    environment with a different core count or split layout re-rolls
    that dice). The sf sweep (0.001/0.01/0.1 in PERF.md + the local
    runner) guards this empirically; if a mismatch ever appears, pin
    summation order on both sides (sum over list(v ORDER BY vec_id) /
    count) as q_array_ops does with its fold — expected-drift class,
    not an engine bug."""
    emb = fan_narrow(t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.ivf_topk(
        emb,
        queries,
        k=10,
        n_centroids=16,
        n_probe=4,
        refine_iters=2,
        centroids=_trained_centroids(spark, sf_dir),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index SERVING path (similarity.ivf_search),
    driver-proven (VERDICT r9 item 3): ``build_ivf_index_frames`` builds
    the exact ``(centroids, assignments)`` frames ``build_ivf_index``
    persists — through the memoized ``_trained_centroids`` seam, so plan
    construction launches no training job — and ``ivf_search_frames``
    is the verbatim function ``ivf_search`` delegates to after its
    parquet reads. The query frame is an EXTERNAL id namespace that
    COLLIDES with corpus ids 0..4 but carries different vectors (each
    query is the REVERSED embedding of the same row), so the
    ``exclude_self=False`` contract is load-bearing: the id-colliding
    corpus row is a legitimate neighbor and must be kept (it would be
    silently dropped under the corpus-query default — the r9 ADVICE
    regression class).

    Fully oracled: the DuckDB oracle retrains the quantizer via the
    shared unrolled k-means CTEs and replays assignment → probe ranking
    → in-cell ranking with ``list_reverse`` queries and NO self-pair
    exclusion — hash-match, not tolerance. Same accumulation-order
    caveat as ext_ann_ivf_kmeans (swept at 3 SFs).
    """
    emb = fan_narrow(t(spark, sf_dir, "embeddings"))
    cents, assigned = S.build_ivf_index_frames(
        emb, centroids=_trained_centroids(spark, sf_dir)
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        "vec_id", F.reverse(F.col("embedding")).alias("embedding")
    )
    out = S.ivf_search_frames(cents, assigned, queries, k=10, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def _kmeans_cte_members(
    n_centroids: int, n_iters: int, dim: int, corpus_sql: str | None = None
) -> list[str]:
    """Shared DuckDB CTE chain replaying spherical k-means training.

    Mirrors operators/similarity.py exactly: ``en`` is the l2-normalized
    corpus (spherical_kmeans normalizes once up front), ``c0`` the
    deterministic init (n smallest vec_ids, centroid_id = 1-based rank),
    and each iteration i is assign(c{i-1}) → per-(cell, dim) mean →
    renormalize. Trained centroids land in CTE ``c{n_iters}`` as
    (centroid_id, cv); the raw corpus is ``e`` (vec_id, v).

    ``corpus_sql`` overrides the ``e`` CTE — the retrain oracle trains
    over a COMBINED (seed + stream-admitted) corpus instead of the bare
    embeddings table. The default is byte-identical to the pre-parameter
    builder (the serving-oracle md5 pins in test_registry.py hold)."""
    members = [
        corpus_sql
        or "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "en AS (SELECT vec_id,"
        " list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv FROM e)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id, nv AS cv"
        f" FROM en ORDER BY vec_id LIMIT {n_centroids})",
    ]
    for i in range(1, n_iters + 1):
        p = f"c{i - 1}"
        members.append(
            f"a{i} AS (SELECT vec_id, centroid_id, nv FROM ("
            f" SELECT en.vec_id, c.centroid_id, en.nv,"
            f" row_number() OVER (PARTITION BY en.vec_id"
            f" ORDER BY list_cosine_similarity(en.nv, c.cv) DESC, c.centroid_id) AS rn"
            f" FROM en CROSS JOIN {p} c) WHERE rn = 1)"
        )
        members.append(
            f"m{i} AS (SELECT centroid_id, r.pos, avg(nv[CAST(r.pos AS INT)]) AS m"
            f" FROM a{i} CROSS JOIN range(1, {dim + 1}) r(pos) GROUP BY 1, 2)"
        )
        members.append(
            f"g{i} AS (SELECT centroid_id, list(m ORDER BY pos) AS mv FROM m{i} GROUP BY 1)"
        )
        members.append(
            f"c{i} AS (SELECT centroid_id,"
            f" list_transform(mv, x -> x / sqrt(list_inner_product(mv, mv))) AS cv FROM g{i})"
        )
    return members


def _ann_ivf_serving_sql(
    query_expr: str,
    exclude_self: bool,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB replay of trained-quantizer IVF serving, shared by the
    inline-search oracle (``ext_ann_ivf_kmeans``: corpus queries,
    self-pairs excluded) and the persisted-index serving oracle
    (``ext_ann_ivf_search``: external-namespace queries via
    ``query_expr``, self-id pairs KEPT — ``ivf_search_frames``'s
    ``exclude_self=False``). One builder so a fix to the assignment
    ranking, probe tie-break, or rounding can never drift between the
    two oracles of what is the identical serving logic; the training
    CTEs were already shared via ``_kmeans_cte_members``. The final
    search assigns the UN-normalized corpus to the trained centroids by
    cosine, matching ivf_topk."""
    members = _kmeans_cte_members(n_centroids, n_iters, dim)
    cf = f"c{n_iters}"
    self_filter = "\n  WHERE p.query_id <> a.corpus_id" if exclude_self else ""
    members += [
        f"""asg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT e.vec_id AS corpus_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)""",
        f"q AS (SELECT vec_id AS query_id, {query_expr} AS qv FROM e WHERE vec_id < 5)",
        f"""probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN {cf} c) WHERE rn <= {n_probe})""",
        f"""cand AS (
  SELECT p.query_id, a.corpus_id FROM probes p JOIN asg a USING (centroid_id){self_filter})""",
        """scored AS (
  SELECT c.query_id, c.corpus_id AS neighbor_id, list_cosine_similarity(q.qv, e.v) AS sim
  FROM cand c JOIN q ON q.query_id = c.query_id JOIN e ON e.vec_id = c.corpus_id)""",
        """ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + f"""
SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""
    )


# byte-identical to the pre-refactor builders (pinned in
# tests/test_registry.py::test_ivf_serving_oracles_unchanged_by_refactor)
SQL_ANN_IVF_KMEANS = _ann_ivf_serving_sql("v", exclude_self=True)
SQL_ANN_IVF_SEARCH = _ann_ivf_serving_sql("list_reverse(v)", exclude_self=False)


def q_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance report (r10): per-cell occupancy of the
    trained quantizer's assignments — count, corpus share, and imbalance
    factor (count × n trained centroids / corpus size; 1.0 = balanced).
    The retrain trigger a 100 TB serving owner watches: probe latency
    follows the hottest cell once the corpus drifts.

    Built through the same ``build_ivf_index_frames`` +
    ``_trained_centroids`` seam as ``ext_ann_ivf_search`` (plan-build
    job-free); one combinable count at n_centroids cardinality + a
    broadcast 1-row ratio join. Empty cells are REPORTED (n_vectors=0)
    and the imbalance divisor is the trained centroid count — a fully
    drifted 16-cell quantizer must read imbalance 16 on its hot cell,
    not 1.0. Oracle: the shared k-means training CTEs + assignment
    replay + exact integer-ratio arithmetic."""
    emb = t(spark, sf_dir, "embeddings")
    cents, assigned = S.build_ivf_index_frames(
        emb, centroids=_trained_centroids(spark, sf_dir)
    )
    return S.ivf_cell_stats(assigned, cents)


def _ivf_cell_balance_sql(n_centroids: int = 16, n_iters: int = 2, dim: int = 64) -> str:
    members = _kmeans_cte_members(n_centroids, n_iters, dim)
    cf = f"c{n_iters}"
    members += [
        f"""asg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT e.vec_id AS corpus_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)""",
        # one row per TRAINED centroid (empty cells at 0): the imbalance
        # divisor is n_centroids, not the nonempty count — a fully
        # drifted quantizer must score its hot cell at n_centroids, not 1
        f"""counts AS (
  SELECT c.centroid_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_vectors
  FROM {cf} c LEFT JOIN (
    SELECT centroid_id, count(*) AS n FROM asg GROUP BY 1) a USING (centroid_id))""",
        """tot AS (
  SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_cells FROM counts)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + """
SELECT centroid_id, n_vectors,
       CAST(n_vectors AS DOUBLE) / total AS share,
       CAST(n_vectors AS DOUBLE) * n_cells / total AS imbalance
FROM counts CROSS JOIN tot
"""
    )


SQL_IVF_CELL_BALANCE = _ivf_cell_balance_sql()


#: The in-plan stand-in for stream-admitted vectors, shared by the
#: retrain and index-health rows: each seed embedding re-appears
#: REVERSED under a +100000 id — the same deterministic
#: external-namespace construction ext_ann_ivf_search uses (reversal
#: preserves the norm but not cosine order, so the admitted set drifts
#: the cell distribution the way a real crawl does).
_STREAMED_SQL = (
    "SELECT vec_id + 100000, list_reverse(embedding::DOUBLE[]) FROM embeddings"
)
_RETRAIN_CORPUS_SQL = (
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    f" UNION ALL {_STREAMED_SQL})"
)


def _streamed_rows(emb: DataFrame) -> DataFrame:
    """The Spark twin of ``_STREAMED_SQL``."""
    return emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.reverse(F.col("embedding").cast("array<double>")).alias("embedding"),
    )


def q_ann_ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-index RETRAIN action's train→reassign replay
    (streaming/dedup.rebuild_ivf_index, VERDICT r10 item 2): the
    quantizer is retrained over the COMBINED corpus — seed embeddings
    plus the in-plan stream-admitted stand-ins — and every vector is
    re-assigned to the new cells, exactly the frames
    ``rebuild_ivf_index`` stages and swaps in (it delegates to the same
    ``build_ivf_index_frames``; the atomic-swap and stream-continuation
    behavior is pinned in tests/test_streaming_dedup.py). Output is the
    full re-assignment table (corpus_id, centroid_id).

    Fully oracled: the shared unrolled k-means CTEs train over the
    combined corpus (``corpus_sql`` override) and the assignment replay
    is the same CTE the serving oracles use. Same accumulation-order
    caveat as ext_ann_ivf_kmeans (swept at 3 SFs). Training runs over
    2×|embeddings| through the session-memoized ``_retrained_centroids``
    seam, so within a session the corpus-wide Lloyd shuffles run once."""
    emb = t(spark, sf_dir, "embeddings")
    combined = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(_streamed_rows(emb))
    _, assigned = S.build_ivf_index_frames(
        combined, centroids=_retrained_centroids(spark, sf_dir)
    )
    return assigned.select("corpus_id", "centroid_id")


def _ann_ivf_retrain_sql(n_centroids: int = 16, n_iters: int = 2, dim: int = 64) -> str:
    members = _kmeans_cte_members(
        n_centroids, n_iters, dim, corpus_sql=_RETRAIN_CORPUS_SQL
    )
    cf = f"c{n_iters}"
    members.append(
        f"""asg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT e.vec_id AS corpus_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)"""
    )
    return "WITH " + ",\n".join(members) + "\nSELECT corpus_id, centroid_id FROM asg\n"


SQL_ANN_IVF_RETRAIN = _ann_ivf_retrain_sql()


def q_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMBINED-index health report (streaming/dedup.
    embedding_index_health, VERDICT r10 item 3): ``ivf_cell_stats`` over
    seed assignments UNIONED with stream-admitted vectors, all against
    the FROZEN seed-trained quantizer — the observable that gates the
    retrain action. The seed side is the ``build_ivf_index_frames`` +
    ``_trained_centroids`` seam (identical to ext_ivf_cell_balance);
    the admitted side runs ``_assign_to_centroids`` against the frozen
    broadcast quantizer — the exact function the streaming sink uses on
    each batch's novel rows — with the stand-in rows built in-plan (no
    state reads at plan build). Empty cells reported at 0; imbalance
    divisor = trained centroid count.

    Oracle: the shared k-means CTEs (seed corpus), a combined-corpus
    assignment replay, and the exact integer-ratio arithmetic of the
    cell-balance oracle."""
    emb = t(spark, sf_dir, "embeddings")
    cents, seed_assigned = S.build_ivf_index_frames(
        emb, centroids=_trained_centroids(spark, sf_dir)
    )
    stream_assigned = S._assign_to_centroids(
        _streamed_rows(emb).select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("cv"),
        ),
        F.broadcast(cents),
        "cv",
        False,
    )
    return S.ivf_cell_stats(seed_assigned.unionByName(stream_assigned), cents)


def _index_health_sql(n_centroids: int = 16, n_iters: int = 2, dim: int = 64) -> str:
    members = _kmeans_cte_members(n_centroids, n_iters, dim)
    cf = f"c{n_iters}"
    members += [
        # the same +100000/list_reverse stand-in as _STREAMED_SQL, built
        # from the e CTE (already DOUBLE[]-cast) instead of the raw table
        "comb AS (SELECT vec_id, v FROM e"
        " UNION ALL SELECT vec_id + 100000, list_reverse(v) FROM e)",
        f"""asg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT m.vec_id AS corpus_id, c.centroid_id,
           row_number() OVER (PARTITION BY m.vec_id
             ORDER BY list_cosine_similarity(m.v, c.cv) DESC, c.centroid_id) AS rn
    FROM comb m CROSS JOIN {cf} c) WHERE rn = 1)""",
        f"""counts AS (
  SELECT c.centroid_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_vectors
  FROM {cf} c LEFT JOIN (
    SELECT centroid_id, count(*) AS n FROM asg GROUP BY 1) a USING (centroid_id))""",
        """tot AS (
  SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_cells FROM counts)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + """
SELECT centroid_id, n_vectors,
       CAST(n_vectors AS DOUBLE) / total AS share,
       CAST(n_vectors AS DOUBLE) * n_cells / total AS imbalance
FROM counts CROSS JOIN tot
"""
    )


SQL_INDEX_HEALTH = _index_health_sql()


SEMDEDUP_COSINE = 0.3

_CENTROID_CACHE: dict[tuple, object] = {}


def _trained_centroids(
    spark: SparkSession, sf_dir: str, n_centroids: int = 16, n_iters: int = 2
):
    """Session-memoized spherical-k-means training over the embeddings
    table — the ``d4_select`` train-once pattern lifted ACROSS declared
    queries: four rows (ext_semantic_dedup, ext_semantic_dedup_probe2,
    ext_prototypicality, ext_d4_select) cluster the same corpus with the
    same (k, iters), and training is the only corpus-wide iterative cost
    in any of them, so within one session it runs once and every later
    plan reuses the eagerly-checkpointed 16-row centroid table (r6
    verdict item 6: probe2's cold cost was dominated by retraining, not
    by its declared probe work). Determinism makes this a pure cache:
    the trained table is a function of (corpus, k, iters) only — the
    DuckDB oracles retrain via the unrolled CTEs and still agree
    bit-for-bit. Keyed by applicationId so a fresh session (new JVM app,
    checkpointed RDDs gone) retrains instead of reading a dead frame.

    The cached frame is trained ``keep_means=True`` so ONE run also
    serves the residual IVF-PQ coarse quantizer (which reconstructs
    against ``centroid_mean``); plain consumers get the two-column
    selection — same values either way (keep_means only retains an
    extra column of the identical training)."""
    return _trained_centroids_means(spark, sf_dir, n_centroids, n_iters).select(
        "centroid_id", "centroid_vec"
    )


def _trained_centroids_means(
    spark: SparkSession, sf_dir: str, n_centroids: int = 16, n_iters: int = 2
):
    """The memoized training run itself, with ``centroid_mean`` (see
    :func:`_trained_centroids`)."""
    key = (spark.sparkContext.applicationId, sf_dir, n_centroids, n_iters)
    if key not in _CENTROID_CACHE:
        emb = t(spark, sf_dir, "embeddings")
        _CENTROID_CACHE[key] = S.spherical_kmeans(
            emb, n_centroids, n_iters, keep_means=True
        )
    return _CENTROID_CACHE[key]


def _retrained_centroids(
    spark: SparkSession, sf_dir: str, n_centroids: int = 16, n_iters: int = 2
):
    """Session-memoized spherical-k-means training over the COMBINED
    retrain corpus (seed embeddings + the ``_streamed_rows`` stand-ins)
    — the ext_ann_ivf_retrain row's quantizer. A separate cache key from
    :func:`_trained_centroids`: the corpora differ, so the quantizers
    must too. Same determinism argument — the trained table is a pure
    function of (corpus, k, iters), so the retraining DuckDB oracle
    agrees bit-for-bit."""
    key = (spark.sparkContext.applicationId, sf_dir, "retrain", n_centroids, n_iters)
    if key not in _CENTROID_CACHE:
        emb = t(spark, sf_dir, "embeddings")
        combined = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).unionByName(_streamed_rows(emb))
        _CENTROID_CACHE[key] = S.spherical_kmeans(combined, n_centroids, n_iters)
    return _CENTROID_CACHE[key]


_PQ_CODEBOOK_CACHE: dict[tuple, object] = {}


def _trained_pq_codebooks(
    spark: SparkSession, sf_dir: str, m: int, k_codes: int, n_iters: int
):
    """Session-memoized raw-vector PQ codebook training (pq_train) —
    shared by ext_ann_pq / ext_ann_ivfpq / ext_ann_ivfpq_rerank, which
    all quantize the same normalized embeddings with the same
    (m, k_codes, iters). The residual variant trains RESIDUAL codebooks
    and cannot share these. Same determinism/keying argument as
    :func:`_trained_centroids`."""
    key = (spark.sparkContext.applicationId, sf_dir, m, k_codes, n_iters)
    if key not in _PQ_CODEBOOK_CACHE:
        emb = t(spark, sf_dir, "embeddings")
        _PQ_CODEBOOK_CACHE[key] = S.pq_train(emb, m, k_codes, n_iters)
    return _PQ_CODEBOOK_CACHE[key]


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semantic_dedup): spherical
    k-means clustering + within-cluster cosine near-dup flagging, keeping
    the lowest-centroid-sim exemplar per duplicate neighborhood. Fully
    oracled: the DuckDB replay reuses the unrolled k-means training CTEs
    (``_kmeans_cte_members``, proven by ext_ann_ivf_kmeans) and restates
    the keep rule as a struct-ordering comparison. The 0.3 threshold is
    calibrated to the synthetic embeddings (random vectors top out near
    0.51 pairwise cosine) so the drop path is actually exercised."""
    emb = fan_narrow(t(spark, sf_dir, "embeddings"))
    out = S.semantic_dedup(
        emb,
        threshold=SEMDEDUP_COSINE,
        centroids=_trained_centroids(spark, sf_dir),
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("centroid_sim", 6).alias("centroid_sim"),
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("kept").cast("int").cast("long").alias("kept"),
    )


def _semantic_dedup_sql(
    n_centroids: int = 16,
    n_iters: int = 2,
    threshold: float = SEMDEDUP_COSINE,
    dim: int = 64,
    n_assign: int = 1,
) -> str:
    """DuckDB replay of SemDeDup: shared k-means training CTEs, then
    full-corpus assignment with the winning cosine retained, in-cluster
    near-dup pairs, and the (centroid_sim, id) exemplar keep rule.
    ``n_assign > 1`` replays the boundary-probe variant: candidate pairs
    come from any shared top-``n_assign`` cell (deduplicated), while
    centroid_sim / exemplar order / output centroid_id stay primary —
    exactly ``_probe_cells``' deterministic top-n (cosine DESC,
    centroid_id ASC)."""
    members = _kmeans_cte_members(n_centroids, n_iters, dim)
    cf = f"c{n_iters}"
    members += [
        f"""asg AS (
  SELECT vec_id, centroid_id, sim FROM (
    SELECT e.vec_id, c.centroid_id, list_cosine_similarity(e.v, c.cv) AS sim,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)""",
    ]
    if n_assign == 1:
        members.append(
            f"""dup AS (
  SELECT b.vec_id AS vid, count(*) AS n_dups,
         max(CASE WHEN (a.sim, a.vec_id) < (b.sim, b.vec_id) THEN 1 ELSE 0 END) AS has_pred
  FROM asg a
  JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
  GROUP BY 1)"""
        )
    else:
        members += [
            f"""cells AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn <= {n_assign})""",
            """cand AS (
  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
  FROM cells a JOIN cells b
    ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id)""",
            f"""dup AS (
  SELECT sb.vec_id AS vid, count(*) AS n_dups,
         max(CASE WHEN (sa.sim, sa.vec_id) < (sb.sim, sb.vec_id) THEN 1 ELSE 0 END) AS has_pred
  FROM cand
  JOIN asg sa ON sa.vec_id = cand.ida
  JOIN asg sb ON sb.vec_id = cand.idb
  JOIN e ea ON ea.vec_id = cand.ida
  JOIN e eb ON eb.vec_id = cand.idb
  WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
  GROUP BY 1)""",
        ]
    return (
        "WITH "
        + ",\n".join(members)
        + """
SELECT asg.vec_id, CAST(asg.centroid_id AS BIGINT) AS centroid_id,
       round(asg.sim, 6) AS centroid_sim,
       CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
       CAST(CASE WHEN coalesce(d.has_pred, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM asg LEFT JOIN dup d ON d.vid = asg.vec_id
"""
    )


SQL_SEMANTIC_DEDUP = _semantic_dedup_sql()


def q_semantic_dedup_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with ``n_assign=2`` boundary probing (r4/r5 verdict
    carry-over): near-dup pairs straddling a cluster bisector assign to
    different primary cells and are invisible at n_assign=1; probing
    each row's top-2 cells in the pair search closes that blind spot
    while centroid_sim, the exemplar order, and the reported
    centroid_id stay primary. The probe's top-2 rule is deterministic
    (cosine DESC, centroid_id ASC), so the oracle replays it exactly —
    this row upgrades the pytest-pinned boundary path to driver-gated.
    Flags a SUPERSET of ext_semantic_dedup's duplicates (pinned in
    tests/test_similarity.py)."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.semantic_dedup(
        emb,
        threshold=SEMDEDUP_COSINE,
        n_assign=2,
        centroids=_trained_centroids(spark, sf_dir),
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("centroid_sim", 6).alias("centroid_sim"),
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("kept").cast("int").cast("long").alias("kept"),
    )


SQL_SEMANTIC_DEDUP_PROBE2 = _semantic_dedup_sql(n_assign=2)


PROBE_TARGET = 0
PROBE_ITERS = 3
PROBE_LR = 0.5


def q_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-probe training + corpus sweep
    (operators/linear.py): 3 full-batch least-squares gradient steps
    one-vs-rest for label 0 over the normalized embeddings, then the
    map-only score sweep with the mean-score cut. The ENTIRE training
    run is inside the oracle — one CTE block per gradient step
    (err → per-dim gradient → weight update), the
    ``_kmeans_cte_members`` discipline — so the driver hash certifies
    distributed in-engine model training end-to-end, not just the
    sweep. Same declared float caveat as the k-means oracle: gradient
    sums accumulate in engine-internal order; guarded by the three-SF
    sweep."""
    from token_etl_spark.operators.linear import linear_probe

    emb = t(spark, sf_dir, "embeddings")
    out = linear_probe(
        emb,
        target_label=PROBE_TARGET,
        n_iters=PROBE_ITERS,
        lr=PROBE_LR,
        threshold=None,
    )
    return out.select(
        F.col("id").alias("vec_id"),
        "label",
        "y",
        F.round("score", 6).alias("score"),
        F.col("pred").cast("int").cast("long").alias("pred"),
    )


def _linear_probe_sql(
    target: int = PROBE_TARGET,
    n_iters: int = PROBE_ITERS,
    lr: float = PROBE_LR,
    dim: int = 64,
) -> str:
    """DuckDB replay of the full gradient-descent run: zero-init weight
    row, one (err → per-dim gradient → update) CTE block per step with
    the update arithmetic in the engine's exact expression order
    (w[d] − (lr·2)·g[d]/n, left-associative), then the scored sweep and
    the mean cut."""
    members = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v,"
        " CAST(label AS BIGINT) AS label FROM embeddings)",
        "en AS (SELECT vec_id, label,"
        " list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv,"
        f" CAST(label = {target} AS DOUBLE) AS y FROM e)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM en)",
        f"w0 AS (SELECT list_transform(range(1, {dim + 1}), x -> 0.0) AS w,"
        " 0.0 AS b)",
    ]
    for i in range(1, n_iters + 1):
        p = f"w{i - 1}"
        members += [
            f"""p{i} AS (
  SELECT vec_id, nv, y, list_inner_product(w.w, nv) + w.b - y AS err
  FROM en CROSS JOIN {p} w)""",
            f"""g{i} AS (
  SELECT r.pos, sum(err * nv[CAST(r.pos AS INT)]) AS gw, sum(err) AS se
  FROM p{i} CROSS JOIN range(1, {dim + 1}) r(pos) GROUP BY 1)""",
            f"""a{i} AS (
  SELECT list(gw ORDER BY pos) AS gwl,
         max(CASE WHEN pos = 1 THEN se END) AS ges FROM g{i})""",
            f"""w{i} AS (
  SELECT list_transform(range(1, {dim + 1}), d ->
           w.w[CAST(d AS INT)] - ({lr!r} * 2.0) * a.gwl[CAST(d AS INT)] / nn.n) AS w,
         w.b - ({lr!r} * 2.0) * a.ges / nn.n AS b
  FROM {p} w CROSS JOIN a{i} a CROSS JOIN nn)""",
        ]
    members += [
        f"""sc AS (
  SELECT vec_id, label, y, list_inner_product(w.w, nv) + w.b AS score
  FROM en CROSS JOIN w{n_iters} w)""",
        "m AS (SELECT avg(score) AS cut FROM sc)",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + """
SELECT vec_id, label, y, round(score, 6) AS score,
       CAST(score > m.cut AS BIGINT) AS pred
FROM sc CROSS JOIN m
"""
    )


SQL_LINEAR_PROBE = _linear_probe_sql()


KNN_NOISE_K = 10


def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-noise sweep (operators/similarity.py
    knn_label_consistency): every embedding voted on by its 10 nearest
    neighbors' labels; disagreement flags mislabeled-data candidates.
    Exact brute-force neighbors here (the eval-set baseline — the
    operator takes a pre-computed IVF neighbor frame at scale); the
    oracle replays ranking, the plurality vote (count DESC, label ASC),
    and the agreement division exactly.

    The corpus side is repartitioned before scoring: the gate corpus is
    ONE parquet file, so without it the n² cosine scan runs in a single
    task (measured 70 s cold at sf0.1 vs ~4 s parallelized — at real
    scale the corpus is already partitioned and the repartition is a
    cheap row-count-preserving shuffle)."""
    emb = t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = S.knn_label_consistency(emb, k=KNN_NOISE_K)
    return out.select(
        F.col("id").alias("vec_id"),
        "label",
        "n_same",
        "majority_label",
        F.round("agreement", 6).alias("agreement"),
        F.col("suspect").cast("int").cast("long").alias("suspect"),
    )


SQL_KNN_LABEL_NOISE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
           FROM embeddings),
s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
             list_cosine_similarity(a.v, b.v) AS sim, b.label AS nlab
      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (SELECT qid, nlab,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM s),
topk AS (SELECT qid, nlab FROM r WHERE rnk <= {KNN_NOISE_K}),
cnt AS (SELECT qid, nlab, CAST(count(*) AS BIGINT) AS c FROM topk GROUP BY 1, 2),
maj AS (SELECT qid, nlab AS majority_label,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlab) AS mr
        FROM cnt),
tot AS (SELECT qid, CAST(sum(c) AS BIGINT) AS n_nb FROM cnt GROUP BY 1)
SELECT e.vec_id, e.label,
       CAST(coalesce(cs.c, 0) AS BIGINT) AS n_same,
       m.majority_label,
       round(CAST(coalesce(cs.c, 0) AS DOUBLE) / t.n_nb, 6) AS agreement,
       CAST(m.majority_label <> e.label AS BIGINT) AS suspect
FROM e
JOIN maj m ON m.qid = e.vec_id AND m.mr = 1
JOIN tot t ON t.qid = e.vec_id
LEFT JOIN cnt cs ON cs.qid = e.vec_id AND cs.nlab = e.label
"""


def q_knn_label_noise_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN label-noise SCALE path: the same neighborhood vote as
    ext_knn_label_noise, but with neighbors from IVF search
    (operators/similarity.py ivf_topk through knn_label_consistency's
    ``neighbors=`` seam) instead of the exact n² scan — comparisons per
    query drop to |corpus| x n_probe / n_centroids, and the cell join
    shuffles on 16 centroid keys instead of emitting every pair. This is
    the declared plan you'd run at 100 TB; the exact row stays as the
    eval-set baseline (suspect P/R vs exact measured in PERF.md).

    Fully oracled, not rows-only: the quantizer is the deterministic
    sampled one (centroids = first 16 corpus ids — the ext_ann_ivf
    discipline), so DuckDB replays assignment → probe ranking → in-cell
    top-k → the plurality vote exactly. Ids whose probed cells yield no
    candidates drop out on BOTH sides (inner vote joins)."""
    emb = t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    nb = S.ivf_topk(emb, emb, k=KNN_NOISE_K, n_centroids=16, n_probe=4)
    out = S.knn_label_consistency(emb, k=KNN_NOISE_K, neighbors=nb)
    return out.select(
        F.col("id").alias("vec_id"),
        "label",
        "n_same",
        "majority_label",
        F.round("agreement", 6).alias("agreement"),
        F.col("suspect").cast("int").cast("long").alias("suspect"),
    )


SQL_KNN_LABEL_NOISE_IVF = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
           FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT e.vec_id AS corpus_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT e.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN cents c) WHERE rn <= 4),
cand AS (
  SELECT p.query_id, a.corpus_id FROM probes p JOIN asg a USING (centroid_id)
  WHERE p.query_id <> a.corpus_id),
scored AS (
  SELECT c.query_id AS qid, c.corpus_id AS nid,
         list_cosine_similarity(q.v, n.v) AS sim, n.label AS nlab
  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.corpus_id),
topk AS (
  SELECT qid, nlab FROM (
    SELECT qid, nlab,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
    FROM scored) WHERE rnk <= {KNN_NOISE_K}),
cnt AS (SELECT qid, nlab, CAST(count(*) AS BIGINT) AS c FROM topk GROUP BY 1, 2),
maj AS (SELECT qid, nlab AS majority_label,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlab) AS mr
        FROM cnt),
tot AS (SELECT qid, CAST(sum(c) AS BIGINT) AS n_nb FROM cnt GROUP BY 1)
SELECT e.vec_id, e.label,
       CAST(coalesce(cs.c, 0) AS BIGINT) AS n_same,
       m.majority_label,
       round(CAST(coalesce(cs.c, 0) AS DOUBLE) / t.n_nb, 6) AS agreement,
       CAST(m.majority_label <> e.label AS BIGINT) AS suspect
FROM e
JOIN maj m ON m.qid = e.vec_id AND m.mr = 1
JOIN tot t ON t.qid = e.vec_id
LEFT JOIN cnt cs ON cs.qid = e.vec_id AND cs.nlab = e.label
"""


PROTO_DROP_PCT = 25


def q_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 diversification stage (operators/similarity.py
    prototypicality_filter): rank cluster members by centroid cosine and
    drop the most prototypical 25% per cluster. The oracle reuses the
    unrolled k-means training CTEs and the SemDeDup assignment CTE, then
    restates the rank/count windows and the integer drop boundary."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.prototypicality_filter(
        emb,
        n_centroids=16,
        n_iters=2,
        drop_pct=PROTO_DROP_PCT,
        centroids=_trained_centroids(spark, sf_dir),
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("centroid_sim", 6).alias("centroid_sim"),
        "cluster_n",
        "proto_rank",
        F.col("kept").cast("int").cast("long").alias("kept"),
    )


def _prototypicality_sql(
    n_centroids: int = 16,
    n_iters: int = 2,
    drop_pct: int = PROTO_DROP_PCT,
    dim: int = 64,
) -> str:
    """DuckDB replay of the D4 prototype-drop stage: shared k-means
    training CTEs + full-corpus assignment, then per-cluster rank/count
    windows and the integer-arithmetic drop boundary."""
    members = _kmeans_cte_members(n_centroids, n_iters, dim)
    cf = f"c{n_iters}"
    members += [
        f"""asg AS (
  SELECT vec_id, centroid_id, sim FROM (
    SELECT e.vec_id, c.centroid_id, list_cosine_similarity(e.v, c.cv) AS sim,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)""",
        """ranked AS (
  SELECT vec_id, centroid_id, sim,
         row_number() OVER (PARTITION BY centroid_id ORDER BY sim DESC, vec_id) AS proto_rank,
         count(*) OVER (PARTITION BY centroid_id) AS cluster_n
  FROM asg)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + f"""
SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
       round(sim, 6) AS centroid_sim,
       CAST(cluster_n AS BIGINT) AS cluster_n,
       CAST(proto_rank AS BIGINT) AS proto_rank,
       CAST(CASE WHEN proto_rank > (cluster_n * {int(drop_pct)}) // 100
                 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM ranked
"""
    )


SQL_PROTOTYPICALITY = _prototypicality_sql()


def q_d4_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end D4 composition (operators/similarity.py d4_select):
    SemDeDup keep-list, then prototype drop over the SURVIVORS with the
    shared training run. The oracle chains the SemDeDup CTEs with a
    survivor-filtered rank/count stage, so the composition itself — not
    just its two stages — is driver-proven. Booleans are cast to BIGINT
    for the hasher; dropped rows carry null stage-2 columns on both
    sides."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.d4_select(
        emb,
        n_centroids=16,
        n_iters=2,
        threshold=SEMDEDUP_COSINE,
        drop_pct=PROTO_DROP_PCT,
        centroids=_trained_centroids(spark, sf_dir),
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round("centroid_sim", 6).alias("centroid_sim"),
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("semdedup_kept").cast("int").cast("long").alias("semdedup_kept"),
        F.col("cluster_n").cast("long").alias("cluster_n"),
        F.col("proto_rank").cast("long").alias("proto_rank"),
        F.col("proto_kept").cast("int").cast("long").alias("proto_kept"),
        F.col("keep").cast("int").cast("long").alias("keep"),
    )


def _d4_select_sql(
    n_centroids: int = 16,
    n_iters: int = 2,
    threshold: float = SEMDEDUP_COSINE,
    drop_pct: int = PROTO_DROP_PCT,
    dim: int = 64,
) -> str:
    """DuckDB replay of the full D4 composition: SemDeDup CTEs (shared
    k-means training + assignment + in-cluster dup scan), then the
    rank/count windows over the keep-list survivors only."""
    members = _kmeans_cte_members(n_centroids, n_iters, dim)
    cf = f"c{n_iters}"
    members += [
        f"""asg AS (
  SELECT vec_id, centroid_id, sim FROM (
    SELECT e.vec_id, c.centroid_id, list_cosine_similarity(e.v, c.cv) AS sim,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)""",
        f"""dup AS (
  SELECT b.vec_id AS vid, count(*) AS n_dups,
         max(CASE WHEN (a.sim, a.vec_id) < (b.sim, b.vec_id) THEN 1 ELSE 0 END) AS has_pred
  FROM asg a
  JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
  GROUP BY 1)""",
        """sem AS (
  SELECT asg.vec_id, asg.centroid_id, asg.sim,
         CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
         (coalesce(d.has_pred, 0) = 0) AS kept
  FROM asg LEFT JOIN dup d ON d.vid = asg.vec_id)""",
        """pr AS (
  SELECT vec_id,
         row_number() OVER (PARTITION BY centroid_id ORDER BY sim DESC, vec_id) AS proto_rank,
         count(*) OVER (PARTITION BY centroid_id) AS cluster_n
  FROM sem WHERE kept)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + f"""
SELECT s.vec_id, CAST(s.centroid_id AS BIGINT) AS centroid_id,
       round(s.sim, 6) AS centroid_sim, s.n_dups,
       CAST(s.kept AS BIGINT) AS semdedup_kept,
       CAST(p.cluster_n AS BIGINT) AS cluster_n,
       CAST(p.proto_rank AS BIGINT) AS proto_rank,
       CAST(p.proto_rank > (p.cluster_n * {int(drop_pct)}) // 100 AS BIGINT) AS proto_kept,
       CAST(s.kept AND coalesce(
           p.proto_rank > (p.cluster_n * {int(drop_pct)}) // 100, FALSE) AS BIGINT) AS keep
FROM sem s LEFT JOIN pr p ON p.vec_id = s.vec_id
"""
    )


SQL_D4_SELECT = _d4_select_sql()


PQ_M = 8
PQ_CODES = 16
PQ_ITERS = 2


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py pq_train /
    pq_encode / pq_topk): per-subspace L2 codebooks over the normalized
    embeddings, m-byte codes, asymmetric-distance top-10 for queries
    vec_id < 5. The oracle unrolls the whole thing — per-subspace Lloyd
    training (subspace as a grouping key, the Spark plan's own shape),
    encoding, the per-query LUT, and the ORDER-PINNED per-pair distance
    sum (list ordered by subspace, matching the Spark fold)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = S.pq_topk(
        emb,
        q,
        m=PQ_M,
        k_codes=PQ_CODES,
        n_iters=PQ_ITERS,
        k=10,
        codebooks=_trained_pq_codebooks(spark, sf_dir, PQ_M, PQ_CODES, PQ_ITERS),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("pq_dist", 6).alias("pq_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_pq_sql(
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    n_iters: int = PQ_ITERS,
    k: int = 10,
    dim: int = 64,
) -> str:
    """DuckDB replay of PQ train/encode/search. L2² between dsub-dim
    lists is the same pinned fold both engines run; all Lloyd rounds are
    unrolled; the final distance is a subspace-ordered list sum."""
    dsub = dim // m

    def l2sq(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, {dsub + 1}), i -> "
            f"({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])"
            f" * ({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])), 'sum')"
        )

    members = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "en AS (SELECT vec_id,"
        " list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv FROM e)",
        f"""sub AS (
  SELECT vec_id, s.sub, nv[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS sv
  FROM en CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s)""",
        f"""c0 AS (
  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS code_id,
         sv AS cv
  FROM sub WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k_codes}))""",
    ]
    for i in range(1, n_iters + 1):
        p = f"c{i - 1}"
        members.append(
            f"""a{i} AS (
  SELECT vec_id, sub, sv, code_id FROM (
    SELECT sub.vec_id, sub.sub, sub.sv, c.code_id,
           row_number() OVER (PARTITION BY sub.vec_id, sub.sub
             ORDER BY {l2sq('sub.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM sub JOIN {p} c ON c.sub = sub.sub) WHERE rn = 1)"""
        )
        members.append(
            f"m{i} AS (SELECT sub, code_id, r.pos, avg(sv[CAST(r.pos AS INT)]) AS mu"
            f" FROM a{i} CROSS JOIN range(1, {dsub + 1}) r(pos) GROUP BY 1, 2, 3)"
        )
        members.append(
            f"c{i} AS (SELECT sub, code_id, list(mu ORDER BY pos) AS cv FROM m{i} GROUP BY 1, 2)"
        )
    cf = f"c{n_iters}"
    members += [
        f"""codes AS (
  SELECT vec_id, sub, code_id FROM (
    SELECT sub.vec_id, sub.sub, c.code_id,
           row_number() OVER (PARTITION BY sub.vec_id, sub.sub
             ORDER BY {l2sq('sub.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM sub JOIN {cf} c ON c.sub = sub.sub) WHERE rn = 1)""",
        "q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 5)",
        f"""lut AS (
  SELECT q.query_id, c.sub, c.code_id,
         {l2sq(f'q.qv[c.sub * {dsub} + 1 : c.sub * {dsub} + {dsub}]', 'c.cv')} AS d2
  FROM q CROSS JOIN {cf} c)""",
        """scored AS (
  SELECT l.query_id, k.vec_id AS neighbor_id,
         list_aggregate(list(l.d2 ORDER BY l.sub), 'sum') AS pq_dist
  FROM codes k
  JOIN lut l ON l.sub = k.sub AND l.code_id = k.code_id
  WHERE l.query_id <> k.vec_id
  GROUP BY 1, 2)""",
        """ranked AS (
  SELECT query_id, neighbor_id, pq_dist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY pq_dist ASC, neighbor_id) AS rank
  FROM scored)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + f"""
SELECT query_id, neighbor_id, round(pq_dist, 6) AS pq_dist,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""
    )


SQL_ANN_PQ = _ann_pq_sql()


IVFPQ_PROBE = 4


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (operators/similarity.py ivfpq_topk): trained
    coarse quantizer routes each query to 4 of 16 cells; candidates in
    probed cells score from their m-byte PQ codes via the query LUT. The
    oracle stitches the two proven replays — the spherical-k-means CTEs
    (coarse) and the per-subspace Lloyd CTEs (PQ, renamed pc*/pa*) —
    then probes, joins codes to the LUT, and sums distances in subspace
    order."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = S.ivfpq_topk(
        emb,
        q,
        n_centroids=16,
        n_probe=IVFPQ_PROBE,
        coarse_iters=2,
        m=PQ_M,
        k_codes=PQ_CODES,
        pq_iters=PQ_ITERS,
        k=10,
        coarse_centroids=_trained_centroids(spark, sf_dir),
        codebooks=_trained_pq_codebooks(spark, sf_dir, PQ_M, PQ_CODES, PQ_ITERS),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("pq_dist", 6).alias("pq_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_ivfpq_sql(
    n_centroids: int = 16,
    n_probe: int = IVFPQ_PROBE,
    coarse_iters: int = 2,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    pq_iters: int = PQ_ITERS,
    k: int = 10,
    dim: int = 64,
    rerank_r: int | None = None,
) -> str:
    dsub = dim // m

    def l2sq(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, {dsub + 1}), i -> "
            f"({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])"
            f" * ({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])), 'sum')"
        )

    # coarse spherical k-means: e/en/c0..c{coarse_iters} from the shared
    # builder; PQ CTEs below use p-prefixed names to avoid collisions
    members = _kmeans_cte_members(n_centroids, coarse_iters, dim)
    cf = f"c{coarse_iters}"
    members += [
        f"""asg AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cf} c) WHERE rn = 1)""",
        f"""psub AS (
  SELECT vec_id, s.sub, nv[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS sv
  FROM en CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s)""",
        f"""pc0 AS (
  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS code_id,
         sv AS cv
  FROM psub WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k_codes}))""",
    ]
    for i in range(1, pq_iters + 1):
        p = f"pc{i - 1}"
        members.append(
            f"""pa{i} AS (
  SELECT vec_id, sub, sv, code_id FROM (
    SELECT psub.vec_id, psub.sub, psub.sv, c.code_id,
           row_number() OVER (PARTITION BY psub.vec_id, psub.sub
             ORDER BY {l2sq('psub.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM psub JOIN {p} c ON c.sub = psub.sub) WHERE rn = 1)"""
        )
        members.append(
            f"pm{i} AS (SELECT sub, code_id, r.pos, avg(sv[CAST(r.pos AS INT)]) AS mu"
            f" FROM pa{i} CROSS JOIN range(1, {dsub + 1}) r(pos) GROUP BY 1, 2, 3)"
        )
        members.append(
            f"pc{i} AS (SELECT sub, code_id, list(mu ORDER BY pos) AS cv FROM pm{i} GROUP BY 1, 2)"
        )
    pf = f"pc{pq_iters}"
    members += [
        f"""pcodes AS (
  SELECT vec_id, sub, code_id FROM (
    SELECT psub.vec_id, psub.sub, c.code_id,
           row_number() OVER (PARTITION BY psub.vec_id, psub.sub
             ORDER BY {l2sq('psub.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM psub JOIN {pf} c ON c.sub = psub.sub) WHERE rn = 1)""",
        "q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 5)",
        f"""probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN {cf} c) WHERE rn <= {n_probe})""",
        f"""lut AS (
  SELECT q.query_id, c.sub, c.code_id,
         {l2sq(f'q.qv[c.sub * {dsub} + 1 : c.sub * {dsub} + {dsub}]', 'c.cv')} AS d2
  FROM q CROSS JOIN {pf} c)""",
        """scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_aggregate(list(l.d2 ORDER BY l.sub), 'sum') AS pq_dist
  FROM probes p
  JOIN asg a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
  JOIN pcodes pk ON pk.vec_id = a.vec_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub = pk.sub AND l.code_id = pk.code_id
  GROUP BY 1, 2)""",
        """ranked AS (
  SELECT query_id, neighbor_id, pq_dist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY pq_dist ASC, neighbor_id) AS rank
  FROM scored)""",
    ]
    if rerank_r is None:
        return (
            "WITH "
            + ",\n".join(members)
            + f"""
SELECT query_id, neighbor_id, round(pq_dist, 6) AS pq_dist,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""
        )
    # retrieve-then-rerank tail: exact cosine over the R candidates
    # (mirrors similarity.exact_rerank: normalized vectors both sides)
    members += [
        f"cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {rerank_r})",
        """rr AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(q.qv, en.nv) AS cosine_sim
  FROM cand
  JOIN q ON q.query_id = cand.query_id
  JOIN en ON en.vec_id = cand.neighbor_id)""",
        """rranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM rr)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + f"""
SELECT query_id, neighbor_id, round(cosine_sim, 6) AS cosine_sim,
       CAST(rank AS BIGINT) AS rank
FROM rranked WHERE rank <= {k}
"""
    )


SQL_ANN_IVFPQ = _ann_ivfpq_sql()


IVFPQ_RERANK_R = 30


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank (operators/similarity.py ivfpq_rerank_topk:
    IVF-PQ compressed scan supplies the top-R candidates, exact cosine
    over just those R restores ranking fidelity — measured recall@10
    0.194 → 0.45 at R=50 in PERF.md). Oracle: the full ivfpq CTE chain
    plus a rerank tail — exact cosine over normalized vectors on both
    engines, same hash-match contract as every other ANN query."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = S.ivfpq_rerank_topk(
        emb,
        q,
        rerank_r=IVFPQ_RERANK_R,
        k=10,
        n_centroids=16,
        n_probe=IVFPQ_PROBE,
        coarse_iters=2,
        m=PQ_M,
        k_codes=PQ_CODES,
        pq_iters=PQ_ITERS,
        coarse_centroids=_trained_centroids(spark, sf_dir),
        codebooks=_trained_pq_codebooks(spark, sf_dir, PQ_M, PQ_CODES, PQ_ITERS),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_IVFPQ_RERANK = _ann_ivfpq_sql(rerank_r=IVFPQ_RERANK_R)


def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (operators/similarity.py ivfpq_residual_topk —
    the faithful FAISS layout: codes encode vector-minus-cell-MEAN
    residuals — routing on the normalized centroid, reconstruction
    against the variance-minimizing mean; see the operator docstring
    for the measured recall bug this split fixed — and LUTs are per
    (query, probed cell)). Oracle: the coarse k-means CTEs, a
    residual-subvector CTE joining the mean table g{n} (indexed
    element-wise subtraction), the renamed per-subspace Lloyd replay
    over residuals, and the per-cell LUT join."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = S.ivfpq_residual_topk(
        emb,
        q,
        n_centroids=16,
        n_probe=IVFPQ_PROBE,
        coarse_iters=2,
        m=PQ_M,
        k_codes=PQ_CODES,
        pq_iters=PQ_ITERS,
        k=10,
        coarse_centroids=_trained_centroids_means(spark, sf_dir),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("pq_dist", 6).alias("pq_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_ivfpq_residual_sql(
    n_centroids: int = 16,
    n_probe: int = IVFPQ_PROBE,
    coarse_iters: int = 2,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    pq_iters: int = PQ_ITERS,
    k: int = 10,
    dim: int = 64,
) -> str:
    dsub = dim // m

    def l2sq(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, {dsub + 1}), i -> "
            f"({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])"
            f" * ({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])), 'sum')"
        )

    if coarse_iters < 1:
        raise ValueError("oracle replay needs >= 1 coarse iteration (g{i} CTE)")
    members = _kmeans_cte_members(n_centroids, coarse_iters, dim)
    cf = f"c{coarse_iters}"
    gf = f"g{coarse_iters}"
    members += [
        # residual assignment on the NORMALIZED vector (mirrors
        # _residual_subs: cosine(nv, centroid), ties to smallest id);
        # the residual itself subtracts the cell MEAN (gf.mv — the
        # reconstruction centroid), matching keep_means=True
        f"""rasg AS (
  SELECT vec_id, centroid_id FROM (
    SELECT en.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY en.vec_id
             ORDER BY list_cosine_similarity(en.nv, c.cv) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN {cf} c) WHERE rn = 1)""",
        f"""rv AS (
  SELECT en.vec_id, rasg.centroid_id,
         list_transform(range(1, {dim + 1}),
           i -> en.nv[CAST(i AS INT)] - g.mv[CAST(i AS INT)]) AS rv
  FROM en JOIN rasg ON rasg.vec_id = en.vec_id
  JOIN {gf} g ON g.centroid_id = rasg.centroid_id)""",
        f"""psub AS (
  SELECT vec_id, centroid_id, s.sub,
         rv[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS sv
  FROM rv CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s)""",
        f"""pc0 AS (
  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS code_id,
         sv AS cv
  FROM psub WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k_codes}))""",
    ]
    for i in range(1, pq_iters + 1):
        p = f"pc{i - 1}"
        members.append(
            f"""pa{i} AS (
  SELECT vec_id, sub, sv, code_id FROM (
    SELECT psub.vec_id, psub.sub, psub.sv, c.code_id,
           row_number() OVER (PARTITION BY psub.vec_id, psub.sub
             ORDER BY {l2sq('psub.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM psub JOIN {p} c ON c.sub = psub.sub) WHERE rn = 1)"""
        )
        members.append(
            f"pm{i} AS (SELECT sub, code_id, r.pos, avg(sv[CAST(r.pos AS INT)]) AS mu"
            f" FROM pa{i} CROSS JOIN range(1, {dsub + 1}) r(pos) GROUP BY 1, 2, 3)"
        )
        members.append(
            f"pc{i} AS (SELECT sub, code_id, list(mu ORDER BY pos) AS cv FROM pm{i} GROUP BY 1, 2)"
        )
    pf = f"pc{pq_iters}"
    members += [
        f"""pcodes AS (
  SELECT vec_id, sub, code_id FROM (
    SELECT psub.vec_id, psub.sub, c.code_id,
           row_number() OVER (PARTITION BY psub.vec_id, psub.sub
             ORDER BY {l2sq('psub.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM psub JOIN {pf} c ON c.sub = psub.sub) WHERE rn = 1)""",
        "q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 5)",
        f"""probes AS (
  SELECT query_id, qv, centroid_id, cv FROM (
    SELECT q.query_id, q.qv, c.centroid_id, c.cv,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN {cf} c) WHERE rn <= {n_probe})""",
        f"""qres AS (
  SELECT probes.query_id, probes.centroid_id,
         list_transform(range(1, {dim + 1}),
           i -> probes.qv[CAST(i AS INT)] - g.mv[CAST(i AS INT)]) AS qr
  FROM probes JOIN {gf} g ON g.centroid_id = probes.centroid_id)""",
        f"""lut AS (
  SELECT qres.query_id, qres.centroid_id, c.sub, c.code_id,
         {l2sq(f'qres.qr[c.sub * {dsub} + 1 : c.sub * {dsub} + {dsub}]', 'c.cv')} AS d2
  FROM qres CROSS JOIN {pf} c)""",
        """scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         list_aggregate(list(l.d2 ORDER BY l.sub), 'sum') AS pq_dist
  FROM rasg a
  JOIN pcodes pk ON pk.vec_id = a.vec_id
  JOIN lut l ON l.centroid_id = a.centroid_id
            AND l.sub = pk.sub AND l.code_id = pk.code_id
  WHERE l.query_id <> a.vec_id
  GROUP BY 1, 2)""",
        """ranked AS (
  SELECT query_id, neighbor_id, pq_dist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY pq_dist ASC, neighbor_id) AS rank
  FROM scored)""",
    ]
    return (
        "WITH "
        + ",\n".join(members)
        + f"""
SELECT query_id, neighbor_id, round(pq_dist, 6) AS pq_dist,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""
    )


SQL_ANN_IVFPQ_RESIDUAL = _ann_ivfpq_residual_sql()


def _ann_ivf_sql(k: int = 10, n_centroids: int = 16, n_probe: int = 4) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT {n_centroids}),
asg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT e.vec_id AS corpus_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= {n_probe}),
cand AS (
  SELECT p.query_id, a.corpus_id FROM probes p JOIN asg a USING (centroid_id)
  WHERE p.query_id <> a.corpus_id),
scored AS (
  SELECT c.query_id, c.corpus_id AS neighbor_id, list_cosine_similarity(q.qv, e.v) AS sim
  FROM cand c JOIN q ON q.query_id = c.query_id JOIN e ON e.vec_id = c.corpus_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_IVF = _ann_ivf_sql()


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over int8-quantized embeddings (the ANN storage/IO lever at
    100 TB — see operators/similarity.py quantize_vec). quantize_vec is
    scale-invariant (symmetric max-abs scale, so the vector's norm
    cancels and the RAW vector is quantized — no per-element norm fold,
    the r3 no-CSE fix). Integer dot scores rank with zero float-tie
    ambiguity, so the oracle (same max-abs scale → floor-half-up
    quantize → integer dot replay in DuckDB) is an exact hash-match
    contract."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.quantized_topk(emb, queries, k=10)
    return out.select(
        "query_id", "neighbor_id", "qdot", F.col("rank").cast("long").alias("rank")
    )


SQL_ANN_QUANTIZED = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
qz AS (SELECT vec_id,
              list_transform(v, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS qv
       FROM m),
q AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 5),
s AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(list_inner_product(q.qv, c.qv) AS BIGINT) AS qdot
  FROM q CROSS JOIN qz c WHERE query_id <> c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, qdot,
         row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
  FROM s)
SELECT query_id, neighbor_id, qdot, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def q_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.token_estimate("text").alias("est_tokens"))


SQL_TOKEN_ESTIMATE = f"""
SELECT doc_id,
       CAST(coalesce(list_aggregate(
         list_transform(regexp_extract_all(lower(text), '{X.BPE_PIECE_PATTERN}'),
                        p -> CAST(ceil(length(p) / 4.0) AS BIGINT)), 'sum'), 0) AS BIGINT) AS est_tokens
FROM documents
"""


# --- multimodal plumbing ---------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs)
    return with_payload.select(
        "doc_id",
        F.col("media_meta.byte_len").cast("long").alias("byte_len"),
        F.col("media_meta.checksum").alias("checksum"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id, CAST(octet_length(text::BLOB) AS BIGINT) AS byte_len,
       md5(text) AS checksum
FROM documents
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode over binary payloads. The decode
    itself is the documented container-limitation stub, but the FAKE
    feature derivation is deterministic byte arithmetic — so the whole
    mapInPandas path (schema, batching, row alignment) is fully
    oracle-checkable in SQL."""
    docs = t(spark, sf_dir, "documents")
    return decode_features(attach_binary_payload(docs), decode_stub="fake")


# Mirrors _decode_one: w = 16 + n%1024, h = 16 + first_byte%512,
# frames = 1 + n%7 (documents' first chars are ASCII — ascii() of the
# first char IS the first payload byte; asserted in the parity test).
SQL_MULTIMODAL_DECODE = """
SELECT doc_id,
       'image/fake' AS media_type,
       CAST(octet_length(text::BLOB) AS INT) AS byte_len,
       CAST(16 + octet_length(text::BLOB) % 1024 AS INT) AS width,
       CAST(16 + CASE WHEN length(text) = 0 THEN 0
                 ELSE ascii(substr(text, 1, 1)) % 512 END AS INT) AS height,
       CAST(1 + octet_length(text::BLOB) % 7 AS INT) AS n_frames,
       md5(text) AS checksum
FROM documents
"""


def q_multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL pixel path, driver-proven end to end: synthesize a valid
    binary PGM (P5) payload per document IN-ENGINE (header bytes +
    ``unhex(md5(text))`` as 8×2 gray pixels — 16 deterministic bytes),
    then run the genuine decoders: ``extract_media_features`` parses the
    Netpbm header and averages the actual pixels (mean luma), and
    ``resize_raw_images`` decodes → nearest-neighbor-resamples to 4×1 →
    re-encodes, whose output payload is decoded AGAIN for its luma. The
    oracle replays every pixel from the md5 hex bytes in SQL — the same
    fixture-in-engine upgrade ``rel_token_metadata_dim`` gave S8.

    Nearest-neighbor arithmetic at 4×1 from 8×2 picks source row 0 and
    columns (0,2,4,6) — so ``resized_luma`` is the mean of md5 bytes
    0/2/4/6, an exact integer ratio on both engines.

    100 TB shape: payload synthesis is a narrow expression riding the
    scan (one lazy checkpoint shares it between the two consumers);
    both decode stages are Arrow-batched mapInPandas with flat memory
    (bounded by arrow.maxRecordsPerBatch); the final doc_id equi-join of
    two per-doc frames is the only exchange — a production pipeline
    would fuse both decodes into one pass, the join here keeps the two
    OPERATORS separately exercised as shipped.
    """
    docs = t(spark, sf_dir, "documents")
    frame = docs.select(
        "doc_id",
        F.concat(
            F.lit(bytearray(b"P5\n8 2\n255\n")), F.unhex(F.md5("text"))
        ).alias("payload"),
    ).localCheckpoint(eager=False)
    feats = extract_media_features(frame).select(
        "doc_id", "kind", "width", "height", "mean_luma"
    )
    rluma = extract_media_features(
        resize_raw_images(frame, target_w=4, target_h=1).select("doc_id", "payload")
    ).select("doc_id", F.col("mean_luma").alias("resized_luma"))
    return feats.join(rluma, "doc_id")


# Each md5 hex pair is one pixel byte: strpos against the hex alphabet
# (1-based) rebuilds the byte value; luma of a PGM is the plain pixel
# mean (single channel — the BT.601 weights apply to P6 only).
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL sample-decode path, driver-proven (the audio companion
    of ``ext_multimodal_pixels``): synthesize a valid PCM WAV IN-ENGINE
    — a fixed RIFF/fmt/data header (mono, 8 kHz, 16-bit, 8 frames) +
    ``unhex(md5(text))`` as the 16 data bytes — then run the genuine
    ``decode_wav`` via ``extract_media_features``: stdlib ``wave``
    parses the container, numpy computes rms over the ACTUAL samples.

    The oracle rebuilds each little-endian int16 sample from the md5
    hex bytes and replays rms = sqrt(mean((s/32768)²)) in SQL. This is
    bit-reproducible, not just close: s² is an exact integer ≤ 2³⁰, the
    divisions are by powers of two, the 8-term sum needs ≤ 34
    significand bits (exact under any association), and sqrt is
    correctly rounded on both engines.

    100 TB shape: identical to the pixel row — narrow payload synthesis
    on the scan, one Arrow-batched mapInPandas, no joins at all.
    """
    import struct

    docs = t(spark, sf_dir, "documents")
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + 16) + b"WAVE" + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 16)
    )
    frame = docs.select(
        "doc_id",
        F.concat(F.lit(bytearray(hdr)), F.unhex(F.md5("text"))).alias("payload"),
    )
    return extract_media_features(frame).select(
        "doc_id", "kind", "n_channels", "sample_rate", "duration_s", "rms"
    )


SQL_MULTIMODAL_AUDIO = """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
b AS (SELECT doc_id, i,
        (strpos('0123456789abcdef', substr(hx, CAST(4*i+1 AS INT), 1)) - 1) * 16
        + strpos('0123456789abcdef', substr(hx, CAST(4*i+2 AS INT), 1)) - 1 AS lo,
        (strpos('0123456789abcdef', substr(hx, CAST(4*i+3 AS INT), 1)) - 1) * 16
        + strpos('0123456789abcdef', substr(hx, CAST(4*i+4 AS INT), 1)) - 1 AS hi
      FROM h, generate_series(0, 7) AS t(i) WHERE hx IS NOT NULL),
smp AS (SELECT doc_id, CASE WHEN lo + 256*hi >= 32768 THEN lo + 256*hi - 65536
                            ELSE lo + 256*hi END AS s FROM b),
agg AS (SELECT doc_id, sqrt(CAST(sum(s*s) AS DOUBLE) / 8.0) / 32768.0 AS rms
        FROM smp GROUP BY doc_id)
SELECT h.doc_id,
       CASE WHEN h.hx IS NULL THEN 'unknown' ELSE 'wav' END AS kind,
       CASE WHEN h.hx IS NULL THEN NULL ELSE CAST(1 AS INT) END AS n_channels,
       CASE WHEN h.hx IS NULL THEN NULL ELSE CAST(8000 AS INT) END AS sample_rate,
       CASE WHEN h.hx IS NULL THEN NULL ELSE 8.0/8000.0 END AS duration_s,
       a.rms
FROM h LEFT JOIN agg a USING (doc_id)
"""


SQL_MULTIMODAL_PIXELS = """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
b AS (SELECT doc_id, i,
        (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
        + strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1 AS byte
      FROM h, generate_series(0, 15) AS t(i) WHERE hx IS NOT NULL),
agg AS (SELECT doc_id, CAST(sum(byte) AS DOUBLE)/16.0 AS mean_luma,
               CAST(sum(CASE WHEN i IN (0,2,4,6) THEN byte END) AS DOUBLE)/4.0
                 AS resized_luma
        FROM b GROUP BY doc_id)
SELECT h.doc_id,
       CASE WHEN h.hx IS NULL THEN 'unknown' ELSE 'pgm' END AS kind,
       CASE WHEN h.hx IS NULL THEN NULL ELSE CAST(8 AS INT) END AS width,
       CASE WHEN h.hx IS NULL THEN NULL ELSE CAST(2 AS INT) END AS height,
       a.mean_luma, a.resized_luma
FROM h LEFT JOIN agg a USING (doc_id)
"""


def q_multimodal_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The header-sniff + dimension-VALIDATION path, driver-proven
    (r10, closing the r9 int32-overflow crash class): synthesize real
    PNG / GIF / BMP / JPEG / top-down-BMP headers IN-ENGINE — width and
    height derived from doc_id, encoded into the container's actual
    byte layout (big-endian IHDR, little-endian GIF/BMP descriptors,
    JPEG SOF0 segment, two's-complement negative height for the
    top-down DIB) — plus an ADVERSARIAL variant whose PNG width field
    carries 0x80000000 (= 2**31, the exact value that crashed the Arrow
    batch before the fix). ``extract_media_features`` must parse each
    real header back to its source dimensions and degrade the
    out-of-int32 row to kind='unknown'/NULL, never crash.

    The oracle replays the construction arithmetic (kind/width/height
    as pure doc_id functions); the Spark side round-trips through the
    genuine byte encode → magic-dispatch → endianness-aware parse →
    range validation, so any sniffing or validation bug hash-mismatches.

    100 TB shape: payload synthesis is a narrow doc_id-only projection
    on the scan (no text read — column pruning leaves a 1-column
    parquet scan), one Arrow-batched mapInPandas, no joins.
    """
    docs = t(spark, sf_dir, "documents")

    def hex8(c):  # fixed-width hex of a non-negative long
        return F.lpad(F.hex(c), 8, "0")

    def be32(c):
        return F.unhex(hex8(c))

    def be16(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    def le32(c):
        h = hex8(c)
        return F.unhex(
            F.concat(
                F.substring(h, 7, 2), F.substring(h, 5, 2),
                F.substring(h, 3, 2), F.substring(h, 1, 2),
            )
        )

    def le16(c):
        h = F.lpad(F.hex(c), 4, "0")
        return F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))

    w = F.col("doc_id") % 640 + 1
    h = (F.col("doc_id") * 7) % 480 + 1
    variant = F.col("doc_id") % 6
    png_pre = F.lit(bytearray(b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR"))
    bmp_pre = F.lit(bytearray(b"BM" + b"\x00" * 16))
    payload = (
        F.when(variant == 0, F.concat(png_pre, be32(w), be32(h)))
        .when(variant == 1, F.concat(F.lit(bytearray(b"GIF89a")), le16(w), le16(h)))
        .when(variant == 2, F.concat(bmp_pre, le32(w), le32(h)))
        .when(
            variant == 3,
            F.concat(F.lit(bytearray(b"\xff\xd8\xff\xc0\x00\x11\x08")), be16(h), be16(w)),
        )
        # width field = 0x80000000: a syntactically valid PNG header whose
        # unsigned-32 width is 2**31 — must reject to unknown, not crash
        .when(variant == 4, F.concat(png_pre, F.unhex(F.lit("80000000")), be32(h)))
        # top-down DIB: height stored negative (two's complement LE32)
        .otherwise(F.concat(bmp_pre, le32(w), le32(F.lit(2**32) - h)))
    )
    frame = docs.select("doc_id", payload.alias("payload"))
    return extract_media_features(frame).select("doc_id", "kind", "width", "height")


SQL_MULTIMODAL_HEADERS = """
WITH d AS (
  SELECT doc_id, doc_id % 6 AS variant,
         CAST(doc_id % 640 + 1 AS INT) AS w,
         CAST((doc_id * 7) % 480 + 1 AS INT) AS h
  FROM documents)
SELECT doc_id,
       CASE variant WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
                    WHEN 3 THEN 'jpeg' WHEN 4 THEN 'unknown' ELSE 'bmp' END AS kind,
       CASE WHEN variant = 4 THEN NULL ELSE w END AS width,
       CASE WHEN variant = 4 THEN NULL ELSE h END AS height
FROM d
"""


def q_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (applyInPandas recurrence — the one
    operator family where the Pandas path is genuinely required). The
    oracle replays the adjust=False recurrence through a recursive CTE:
    IEEE float ops are deterministic, so the per-step
    ``y = (1-a)*y + a*x`` reproduces pandas' ewm bit-for-bit (probed
    exactly equal, not just within rounding)."""
    from token_etl_spark.operators.timeseries import grouped_ewma

    ev = t(spark, sf_dir, "events").select(
        "user_id", unix_seconds("ts").alias("ts_sec"), "value"
    )
    return grouped_ewma(ev, ["user_id"], "ts_sec", "value", alpha=0.3)


SQL_USER_VALUE_EWMA = """
WITH RECURSIVE base AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events),
e AS (
  SELECT user_id, ts_sec, value, rn, CAST(value AS DOUBLE) AS ewma
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.ts_sec, b.value, b.rn, 0.7 * e.ewma + 0.3 * b.value
  FROM e JOIN base b ON b.user_id = e.user_id AND b.rn = e.rn + 1)
SELECT user_id, ts_sec, value, ewma FROM e
"""


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative fixpoint surface: PageRank over the customer→supplier
    order graph (who concentrates purchase flow), fixed 5 rounds — the
    oracle unrolls the same 5 power-iteration steps as chained CTEs
    (one join+aggregate pair per round, no recursion needed for a fixed
    iteration count). Also cross-checked against a pure-python reference
    in test_graph.py."""
    from token_etl_spark.operators.graph import pagerank

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return pagerank(edges, max_iterations=5, tol=None)  # fixed rounds, no probe jobs


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled power iteration. Float note: per-round contribution sums
    re-associate differently than Spark's, so raw ranks differ at ~1e-14;
    the 6-dp canonicalization both gates apply absorbs that."""
    members = [
        "edges AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
        "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "outd AS (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY 1)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT id, 1.0 AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        members.append(
            f"c{i} AS (SELECT e.dst AS id, sum(p.rank / o.out_deg) AS in_sum"
            f" FROM edges e JOIN {p} p ON p.id = e.src JOIN outd o ON o.id = e.src"
            f" GROUP BY e.dst)"
        )
        members.append(
            f"d{i} AS (SELECT coalesce(sum(p.rank), 0.0) AS dm FROM {p} p"
            f" LEFT JOIN outd o ON o.id = p.id WHERE o.id IS NULL)"
        )
        members.append(
            f"r{i} AS (SELECT nodes.id,"
            f" {1.0 - damping!r} + {damping!r} * (d{i}.dm / nn.n + coalesce(c{i}.in_sum, 0.0)) AS rank"
            f" FROM nodes LEFT JOIN c{i} ON c{i}.id = nodes.id CROSS JOIN d{i} CROSS JOIN nn)"
        )
    return "WITH " + ",\n".join(members) + f"\nSELECT id, rank FROM r{iters}"


SQL_SUPPLIER_PAGERANK = _pagerank_sql(5, 0.85)


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: quality gate → exact dedup →
    near-dup clusters → per-doc keep decision. The oracle replays every
    stage in SQL — quality metrics, digest dedup, exact-Jaccard pairs
    among survivors, recursive-closure components — relying on the same
    verified-complete LSH recall as the other dedup oracles."""
    from token_etl_spark.pipelines.corpus import prepare_corpus

    docs = fan_narrow(t(spark, sf_dir, "documents"))
    return prepare_corpus(docs, jaccard_threshold=JACCARD_THRESHOLD)


SQL_CORPUS_PREP = f"""
WITH RECURSIVE scored AS (
  SELECT doc_id, text, {_TOKS} AS tk FROM documents),
q AS (
  SELECT doc_id, text,
         len(tk) AS n_tokens,
         CAST(coalesce(list_aggregate(
           list_transform(regexp_extract_all(lower(text), '{X.BPE_PIECE_PATTERN}'),
                          p -> CAST(ceil(length(p) / 4.0) AS BIGINT)), 'sum'), 0) AS BIGINT)
           AS est_tokens,
         (len(tk) >= 5 AND len(tk) <= 100000
          AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1) >= 0.5) AS passed_quality
  FROM scored),
qd AS (SELECT doc_id, text FROM q WHERE passed_quality),
ek AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest, doc_id
        FROM qd)
  GROUP BY digest),
surv AS (SELECT qd.doc_id, qd.text FROM qd JOIN ek USING (doc_id)),
{_cc_sql_body(JACCARD_THRESHOLD, source="surv")},
near AS (
  SELECT s.doc_id, coalesce(c.id = c.component, TRUE) AS nk
  FROM surv s LEFT JOIN comp c ON c.id = s.doc_id)
SELECT q.doc_id,
       q.n_tokens,
       q.est_tokens,
       q.passed_quality,
       (q.passed_quality AND e.doc_id IS NULL) AS is_exact_dup,
       coalesce(NOT n.nk, FALSE) AS is_near_dup,
       (q.passed_quality AND e.doc_id IS NOT NULL AND coalesce(n.nk, TRUE)) AS keep
FROM q
LEFT JOIN ek e ON e.doc_id = q.doc_id
LEFT JOIN near n ON n.doc_id = q.doc_id
"""


# --- exact duplicated spans (ExactSubstr statistics) -----------------------

DUP_SPAN_K = 8


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring statistics (operators/dedup.py
    duplicated_spans — the Lee et al. 2022 ExactSubstr recipe as a
    fingerprint → global-count → interval-union relational plan; see the
    operator docstring for the 100 TB shuffle shape). The oracle replays
    the k=8 rolling-window md5 fingerprints, the corpus-wide occurrence
    count, and the lag-window interval union byte-for-byte."""
    docs = t(spark, sf_dir, "documents")
    return D.duplicated_spans(docs, k=DUP_SPAN_K).withColumnRenamed("id", "doc_id")


SQL_DUP_SPANS = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
st AS (
  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
         CAST(greatest(len(tk) - {DUP_SPAN_K - 1}, 0) AS BIGINT) AS n_windows
  FROM base),
occ AS (
  SELECT doc_id,
         unnest(range(1, n_tokens - {DUP_SPAN_K - 2})) AS pos,
         unnest(list_transform(range(1, n_tokens - {DUP_SPAN_K - 2}),
                i -> md5(array_to_string(tk[i : i + {DUP_SPAN_K - 1}], ' ')))) AS fp
  FROM st WHERE n_tokens >= {DUP_SPAN_K}),
marked AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS n_occ FROM occ),
dup AS (
  SELECT doc_id, pos,
         least({DUP_SPAN_K}, pos - coalesce(
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
             pos - {DUP_SPAN_K})) AS cov
  FROM marked WHERE n_occ > 1),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(sum(cov) AS BIGINT) AS dup_tokens
  FROM dup GROUP BY 1)
SELECT st.doc_id, st.n_tokens, st.n_windows,
       coalesce(agg.n_dup_windows, 0) AS n_dup_windows,
       coalesce(agg.dup_tokens, 0) AS dup_tokens,
       CASE WHEN st.n_tokens > 0
            THEN round(CAST(coalesce(agg.dup_tokens, 0) AS DOUBLE) / st.n_tokens, 6)
            ELSE 0.0 END AS dup_fraction
FROM st LEFT JOIN agg USING (doc_id)
"""


def q_dup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr rewrite (operators/dedup.py dedup_spans_rewrite):
    duplicated k=8-window occurrences beyond the corpus-first are cut
    from the text. ``clean_fp`` pins the rewritten text byte-for-byte
    via md5; the oracle replays fingerprinting, (doc_id, pos) occurrence
    ranking, and the indexed-lambda token filter exactly."""
    docs = fan_narrow(t(spark, sf_dir, "documents"))
    out = D.dedup_spans_rewrite(docs, k=DUP_SPAN_K).withColumnRenamed("id", "doc_id")
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("cleaned").alias("clean_fp")
    )


SQL_DUP_SPAN_REWRITE = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
st AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM base),
occ AS (
  SELECT doc_id,
         unnest(range(1, n - {DUP_SPAN_K - 2})) AS pos,
         unnest(list_transform(range(1, n - {DUP_SPAN_K - 2}),
                i -> md5(array_to_string(tk[i : i + {DUP_SPAN_K - 1}], ' ')))) AS fp
  FROM st WHERE n >= {DUP_SPAN_K}),
rk AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
  FROM occ),
rm AS (SELECT doc_id, list(pos ORDER BY pos) AS starts FROM rk WHERE rn >= 2 GROUP BY 1),
j AS (
  SELECT st.doc_id, st.tk, st.n,
         coalesce(rm.starts, CAST([] AS BIGINT[])) AS starts
  FROM st LEFT JOIN rm USING (doc_id)),
kept AS (
  SELECT doc_id, n,
         list_filter(tk, (x, i) ->
             len(list_filter(starts, s -> s <= i AND i < s + {DUP_SPAN_K})) = 0) AS kt
  FROM j)
SELECT doc_id, n AS n_tokens, CAST(n - len(kt) AS BIGINT) AS n_removed,
       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_fp
FROM kept
"""


# --- count-min sketch frequency estimation ---------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 32
CMS_TOPK = 30


def q_countmin_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch vs. truth on the corpus heavy hitters
    (operators/sketch.py): exact token counts feed a depth×width=4×32
    counter table (cell-wise identical to streaming every occurrence —
    the mergeability property), the top-30 tokens are selected by the
    same two-phase bucketed rank as ``ext_top_tokens``, and each is
    point-queried against the broadcast sketch. ``overcount`` =
    est − truth is ≥ 0 by construction (CMS never underestimates); the
    32-wide table is deliberately small enough to collide on this
    vocabulary so the bound is exercised, not vacuous. The oracle
    replays the md5 row-salted bucketing and min-over-rows exactly."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    cms = K.countmin_table(
        counts, item_col="token", weight_col="n", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    wb = Window.partitionBy("bucket").orderBy(F.col("n").desc(), F.col("token"))
    survivors = (
        counts.withColumn("bucket", F.pmod(F.xxhash64("token"), F.lit(64)))
        .withColumn("bucket_rank", F.row_number().over(wb))
        .filter(F.col("bucket_rank") <= CMS_TOPK)
        .drop("bucket", "bucket_rank")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    top = (
        survivors.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= CMS_TOPK)
    )
    est = K.countmin_estimate(
        top, cms, item_col="token", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    return est.select(
        "rank", "token", "n", "est_n", (F.col("est_n") - F.col("n")).alias("overcount")
    )


SQL_COUNTMIN_FREQS = f"""
WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
cells AS (
  SELECT token, n, hr,
         CAST('0x' || substr(md5(CAST(hr AS VARCHAR) || ':' || token), 1, 6) AS BIGINT)
             % {CMS_WIDTH} AS bucket
  FROM (SELECT token, n, unnest(range(0, {CMS_DEPTH})) AS hr FROM c)),
cms AS (SELECT hr, bucket, CAST(sum(n) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
r AS (SELECT token, n,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
      FROM c),
top AS (SELECT * FROM r WHERE rank <= {CMS_TOPK}),
est AS (
  SELECT top.rank, top.token, top.n, min(cms.cnt) AS est_n
  FROM top
  JOIN cells ON cells.token = top.token
  JOIN cms ON cms.hr = cells.hr AND cms.bucket = cells.bucket
  GROUP BY 1, 2, 3)
SELECT rank, token, n, est_n, est_n - n AS overcount FROM est
"""


# --- cross-source score calibration ----------------------------------------


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score calibration
    (operators/curation.calibrate_scores): each document's raw score
    (token count, the engine tokenizer) mapped to its WITHIN-SOURCE
    percentile and a global 10-way percentile bin — the CCNet-style
    head/middle/tail bucketing that makes scores comparable across
    sources before one global threshold prunes them. Two-phase plan:
    cume_dist is replayed off the per-(source, score) count frame, never
    a fact-table window; pct is an exact integer ratio so the oracle's
    native cume_dist reproduces it bit-for-bit."""
    from token_etl_spark.operators.curation import calibrate_scores

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count("text").cast("long").alias("score")
    )
    out = calibrate_scores(docs, "score", "source", n_bins=10)
    return out.select(
        "doc_id", "source", "score", F.round("pct", 6).alias("pct"), "bin"
    )


SQL_SCORE_CALIBRATION = f"""
WITH scored AS (
  SELECT doc_id, source, CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT) AS score
  FROM documents),
pct AS (
  SELECT doc_id, source, score,
         cume_dist() OVER (PARTITION BY source ORDER BY score) AS p
  FROM scored)
SELECT doc_id, source, score, round(p, 6) AS pct,
       CAST(least(9, floor(p * 10)) AS BIGINT) AS bin
FROM pct
"""


# --- sparse random projection (JL dimensionality reduction) -----------------


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse random projection (operators/similarity.random_projection):
    every embedding reduced 64 → 16 dims through the Achlioptas (2003)
    ±1/0 sign matrix — the Johnson–Lindenstrauss pre-ANN primitive that
    cuts every downstream index and distance scan at 100 TB. Output is
    the exploded (vec_id, dim, value) projection so the driver hashes
    every component of every projected vector.

    Plan: map-only (zero shuffle, zero joins) — the k×dim matrix enters
    the plan as literals and each component is one JVM-side
    zip_with/aggregate fold. Oracle: DuckDB re-derives the ENTIRE sign
    matrix independently from the same md5 arithmetic
    (first-6-hex-chars mod 6 over 'rp0:i:j') and replays the
    sum-product per (vec_id, j); float summation-order noise is
    absorbed by round(6) (the declared ANN-family caveat, swept at
    3 SFs)."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.random_projection(emb, dim=64, k=16)
    return out.select(
        "vec_id", F.posexplode("proj").alias("dim", "value")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("value", 6).alias("value"),
    )


SQL_RANDOM_PROJECTION = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
idx AS (SELECT CAST(i AS BIGINT) AS i FROM range(64) t(i)),
outs AS (SELECT CAST(j AS BIGINT) AS j FROM range(16) t(j)),
-- the Achlioptas sign matrix, re-derived from the same md5 arithmetic
-- the engine's projection_signs() uses (s = 3: +1 on 0, -1 on 1, else 0)
r AS (
  SELECT i, j,
         CASE CAST('0x' || substr(md5('rp0:' || i || ':' || j), 1, 6) AS BIGINT) % 6
           WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END AS sgn
  FROM idx CROSS JOIN outs),
-- zero-sign terms kept so every (vec_id, j) group is complete
terms AS (
  SELECT e.vec_id, r.j, r.sgn * e.v[r.i + 1] AS term
  FROM e CROSS JOIN r),
p AS (
  SELECT vec_id, j, sum(term) * sqrt(3.0 / 16) AS val
  FROM terms GROUP BY vec_id, j)
SELECT vec_id, j AS dim, round(val, 6) AS value FROM p
"""


SPECS = [
    QuerySpec("ext_dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT, ("dedup",), bench=True),
    QuerySpec("ext_score_calibration", q_score_calibration, SQL_SCORE_CALIBRATION, ("quality", "curation", "window")),
    QuerySpec("ext_dup_spans", q_dup_spans, SQL_DUP_SPANS, ("dedup", "text")),
    # bench=True (r4): the ExactSubstr rewrite shuffles ~1 row per corpus
    # token — the sub-document dedup workload whose cost is data volume,
    # not document count; track it round over round.
    QuerySpec("ext_dup_span_rewrite", q_dup_span_rewrite, SQL_DUP_SPAN_REWRITE, ("dedup", "text"), bench=True),
    QuerySpec("ext_countmin_freqs", q_countmin_freqs, SQL_COUNTMIN_FREQS, ("sketch", "text", "agg-topk")),
    QuerySpec("ext_text_stats", q_text_stats, SQL_TEXT_STATS, ("text",), bench=True),
    QuerySpec("ext_text_langid", q_text_langid, SQL_TEXT_LANGID, ("text",)),
    QuerySpec("ext_repetition_stats", q_repetition_stats, SQL_REPETITION_STATS, ("text",)),
    QuerySpec("ext_text_fingerprint", q_text_fingerprint, SQL_TEXT_FINGERPRINT, ("text",)),
    QuerySpec("ext_winnowing", q_winnowing, SQL_WINNOWING, ("text", "dedup")),
    QuerySpec("ext_cdc_chunks", q_cdc_chunks, SQL_CDC_CHUNKS, ("text", "dedup", "higher-order")),
    QuerySpec("ext_winnow_overlap", q_winnow_overlap, SQL_WINNOW_OVERLAP, ("text", "dedup", "join")),
    QuerySpec("ext_ngram_jaccard", q_ngram_jaccard, SQL_NGRAM_JACCARD, ("dedup",)),
    QuerySpec("ext_dup_inflation", q_dup_inflation, SQL_DUP_INFLATION, ("dedup", "profile")),
    QuerySpec("ext_dedup_audit_sample", q_dedup_audit_sample, SQL_DEDUP_AUDIT_SAMPLE, ("dedup", "curation", "window")),
    QuerySpec("ext_source_overlap_matrix", q_source_overlap_matrix, SQL_SOURCE_OVERLAP_MATRIX, ("dedup", "profile", "join")),
    QuerySpec("ext_embedding_outliers", q_embedding_outliers, SQL_EMBEDDING_OUTLIERS, ("similarity", "profile", "quality")),
    QuerySpec("ext_minhash_neardup", q_minhash_neardup, SQL_NGRAM_JACCARD, ("dedup",), bench=True),
    QuerySpec("ext_weighted_neardup", q_weighted_neardup, SQL_WEIGHTED_NEARDUP, ("dedup",)),
    QuerySpec("ext_simhash", q_simhash, SQL_SIMHASH, ("dedup",)),
    QuerySpec("ext_simhash_neardup", q_simhash_neardup, SQL_SIMHASH_NEARDUP, ("dedup",)),
    QuerySpec("ext_dedup_keep_list", q_dedup_keep_list, SQL_DEDUP_KEEP_LIST, ("dedup", "graph", "iterative")),
    # bench=True: the star-edge cluster form is the plan you'd run at
    # 100 TB (linear output per bucket), so it is a headline number
    # alongside the pair form it replaces in pipelines/corpus.py.
    QuerySpec("ext_minhash_clusters", q_minhash_clusters, SQL_MINHASH_CLUSTERS, ("dedup", "graph", "iterative"), bench=True),
    QuerySpec("ext_cluster_safe_split", q_cluster_safe_split, SQL_CLUSTER_SAFE_SPLIT, ("dedup", "curation", "graph", "iterative")),
    QuerySpec("ext_dedup_keep_best", q_dedup_keep_best, SQL_DEDUP_KEEP_BEST, ("dedup", "graph", "iterative")),
    QuerySpec("ext_incremental_neardup", q_incremental_neardup, SQL_INCREMENTAL_NEARDUP, ("dedup", "pipeline")),
    QuerySpec("ext_ann_bruteforce", q_ann_bruteforce, SQL_ANN_BRUTEFORCE, ("similarity",), bench=True),
    QuerySpec("ext_embedding_neardup", q_embedding_neardup, SQL_EMBEDDING_NEARDUP, ("similarity", "dedup")),
    QuerySpec("ext_semantic_decon", q_semantic_decon, SQL_SEMANTIC_DECON, ("similarity", "curation")),
    QuerySpec("ext_containment_dedup", q_containment_dedup, SQL_CONTAINMENT_DEDUP, ("dedup", "text")),
    QuerySpec("ext_lexical_diversity", q_lexical_diversity, SQL_LEXICAL_DIVERSITY, ("text", "profile")),
    QuerySpec("ext_ann_lsh", q_ann_lsh, SQL_ANN_LSH, ("similarity",)),
    QuerySpec("ext_ann_lsh_multiprobe", q_ann_lsh_multiprobe, SQL_ANN_LSH_MULTIPROBE, ("similarity",)),
    QuerySpec("ext_ann_lsh_margin", q_ann_lsh_margin, SQL_ANN_LSH_MARGIN, ("similarity",)),
    QuerySpec("ext_ann_ivf", q_ann_ivf, SQL_ANN_IVF, ("similarity",)),
    # bench=True (r4): the trained-quantizer IVF is the ANN scale path —
    # round-over-round tracking matters more than the brute-force baseline.
    QuerySpec("ext_ann_ivf_kmeans", q_ann_ivf_kmeans, SQL_ANN_IVF_KMEANS, ("similarity", "iterative"), bench=True),
    QuerySpec("ext_ann_ivf_search", q_ann_ivf_search, SQL_ANN_IVF_SEARCH, ("similarity", "iterative"), bench=True),
    QuerySpec("ext_ivf_cell_balance", q_ivf_cell_balance, SQL_IVF_CELL_BALANCE, ("similarity", "iterative")),
    QuerySpec("ext_ann_ivf_retrain", q_ann_ivf_retrain, SQL_ANN_IVF_RETRAIN, ("similarity", "iterative", "streaming")),
    QuerySpec("ext_index_health", q_index_health, SQL_INDEX_HEALTH, ("similarity", "iterative", "streaming")),
    # bench=True (r11): the map-only JL projection is the pre-ANN
    # dimensionality cut — a pure whole-stage-codegen vector workload
    # (zero Exchanges) whose movement class (fold arithmetic over
    # array columns) the headline did not previously track.
    QuerySpec("ext_random_projection", q_random_projection, SQL_RANDOM_PROJECTION, ("similarity", "curation"), bench=True),
    # bench=True (r4): embedding-space dedup is the third dedup modality
    # (exact / lexical-minhash / semantic) — track its k-means + in-cluster
    # pair-join cost round over round.
    QuerySpec("ext_semantic_dedup", q_semantic_dedup, SQL_SEMANTIC_DEDUP, ("similarity", "dedup", "iterative"), bench=True),
    QuerySpec("ext_semantic_dedup_probe2", q_semantic_dedup_probe2, SQL_SEMANTIC_DEDUP_PROBE2, ("similarity", "dedup", "iterative")),
    QuerySpec("ext_knn_label_noise", q_knn_label_noise, SQL_KNN_LABEL_NOISE, ("similarity", "curation")),
    # bench=True (r9): the r8 scale-critical plan (salted IVF cell join,
    # the AQE expansion-join fix) — tracked round-over-round so a
    # serialization regression shows up in BENCH diffs (VERDICT r8 item 6).
    QuerySpec("ext_knn_label_noise_ivf", q_knn_label_noise_ivf, SQL_KNN_LABEL_NOISE_IVF, ("similarity", "curation"), bench=True),
    QuerySpec("ext_linear_probe", q_linear_probe, SQL_LINEAR_PROBE, ("similarity", "curation", "ml", "iterative")),
    QuerySpec("ext_prototypicality", q_prototypicality, SQL_PROTOTYPICALITY, ("similarity", "curation", "iterative")),
    QuerySpec("ext_d4_select", q_d4_select, SQL_D4_SELECT, ("similarity", "dedup", "curation", "iterative", "pipeline")),
    QuerySpec("ext_ann_quantized", q_ann_quantized, SQL_ANN_QUANTIZED, ("similarity",)),
    QuerySpec("ext_ann_pq", q_ann_pq, SQL_ANN_PQ, ("similarity", "iterative")),
    QuerySpec("ext_ann_ivfpq", q_ann_ivfpq, SQL_ANN_IVFPQ, ("similarity", "iterative")),
    QuerySpec("ext_ann_ivfpq_rerank", q_ann_ivfpq_rerank, SQL_ANN_IVFPQ_RERANK, ("similarity", "iterative")),
    QuerySpec("ext_ann_ivfpq_residual", q_ann_ivfpq_residual, SQL_ANN_IVFPQ_RESIDUAL, ("similarity", "iterative")),
    QuerySpec("ext_token_estimate", q_token_estimate, SQL_TOKEN_ESTIMATE, ("text",)),
    QuerySpec("ext_multimodal_meta", q_multimodal_meta, SQL_MULTIMODAL_META, ("multimodal",)),
    QuerySpec("ext_multimodal_decode", q_multimodal_decode, SQL_MULTIMODAL_DECODE, ("multimodal",)),
    # bench=True (r10): the headline set tracks shuffle/join/training
    # movement classes but had no Python-decode-bound mapInPandas row —
    # at 100 TB that is the class that pays per-row Python cost by design
    QuerySpec("ext_multimodal_pixels", q_multimodal_pixels, SQL_MULTIMODAL_PIXELS, ("multimodal",), bench=True),
    QuerySpec("ext_multimodal_audio", q_multimodal_audio, SQL_MULTIMODAL_AUDIO, ("multimodal",)),
    QuerySpec("ext_multimodal_headers", q_multimodal_headers, SQL_MULTIMODAL_HEADERS, ("multimodal",)),
    QuerySpec("ext_dedup_audit_sample_lsh", q_dedup_audit_sample_lsh, SQL_DEDUP_AUDIT_SAMPLE, ("dedup", "text")),
    QuerySpec("ext_source_overlap_matrix_lsh", q_source_overlap_matrix_lsh, SQL_SOURCE_OVERLAP_MATRIX, ("dedup", "text")),
    QuerySpec("ext_dedup_threshold_curve", q_dedup_threshold_curve, SQL_DEDUP_THRESHOLD_CURVE, ("dedup", "text", "window")),
    QuerySpec("ext_source_centroid_sim", q_source_centroid_sim, SQL_SOURCE_CENTROID_SIM, ("similarity", "embedding")),
    QuerySpec("ext_langid_confusion", q_langid_confusion, SQL_LANGID_CONFUSION, ("text", "window")),
    # bench=True (r4): the end-to-end corpus-prep pipeline (hygiene +
    # star-edge dedup + CC keep-list) is the headline 100 TB workload.
    QuerySpec("ext_corpus_prep", q_corpus_prep, SQL_CORPUS_PREP, ("dedup", "text", "pipeline", "iterative"), bench=True),
    QuerySpec("ext_user_value_ewma", q_user_value_ewma, SQL_USER_VALUE_EWMA, ("timeseries", "pandas-udf")),
    QuerySpec("ext_supplier_pagerank", q_supplier_pagerank, SQL_SUPPLIER_PAGERANK, ("graph", "iterative")),
]
