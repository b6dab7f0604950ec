"""Bloom-filter operators: compact set-membership for decontamination
and join prefiltering at corpus scale.

No reference analog (the reference stops at token ETL); this is the
standard Bloom 1970 bit-array filter ("Space/time trade-offs in hash
coding with allowable errors", CACM 13(7)) re-expressed as DataFrame
aggregation + a codegen'd probe expression.

Why a Bloom filter when ``ngram_decontaminate`` already broadcasts the
benchmark's exact shingle set? Size. The exact set broadcasts every
distinct shingle STRING — fine for MB-scale eval suites, but a
cross-corpus or allow/deny-list membership question at 100 TB can have
a "small" side of 10⁸–10⁹ keys, far past broadcast limits. The Bloom
bitmap is ``m_bits`` TOTAL (4 KiB at the default 2¹⁵) regardless of key
count or key length, merges by word-wise OR (so per-partition / per-day
filters union for free), and the probe is a pure expression — no join,
no shuffle, whole-stage codegen. The price is a measurable
false-positive rate, (1 − e^(−kn/m))^k; callers that need exactness use
the filter as a PREFILTER in front of an exact join
(:func:`bloom_prefilter_join`), where FPs only cost wasted shuffle
bytes, never wrong rows.

All hashing is md5-prefix bucketing (``curation.hash_bucket`` with a
per-hash-row salt) — deterministic, JVM-codegen'd, and byte-for-byte
reproducible by the DuckDB oracle (same rule as operators/sketch.py).
Bit masks come from a 32-entry literal power-of-two array, never float
``pow``: words hold 32 bits each in a BIGINT, so shifts stay sign-safe
and integer-exact on both engines.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from token_etl_spark.operators.curation import hash_bucket
from token_etl_spark.operators.dedup import shingles

#: Bits packed per BIGINT word. 32 (not 64) so ``1 << bit`` never
#: touches the sign bit — DuckDB and Spark then agree on every mask
#: without unsigned-overflow caveats.
BITS_PER_WORD = 32

def _pow2() -> Column:
    """Literal 2^i mask array — integer-exact on both engines by
    construction. One parsed expression (Column literals need a live
    session, so it is built per call, at a fixed few py4j round trips)."""
    masks = ", ".join(f"CAST({1 << i} AS BIGINT)" for i in range(BITS_PER_WORD))
    return F.expr(f"array({masks})")


def _bit_position(item: Column, row: int, m_bits: int) -> Column:
    """Bit index of ``item`` under hash row ``row``: md5 of 'bf{row}:item'."""
    return hash_bucket(F.concat(F.lit(f"bf{row}:"), item), m_bits)


def bloom_bitmap(
    keys: DataFrame,
    key: Column | str,
    m_bits: int = 1 << 15,
    k_hashes: int = 4,
) -> DataFrame:
    """Build the Bloom bitmap of ``keys``: a ONE-ROW frame with column
    ``bf`` = dense array of ``m_bits / 32`` BIGINT words (bit ``p`` of
    the filter is word ``p div 32``, mask ``1 << (p % 32)``).

    Plan shape: the ``k_hashes`` positions per key explode from a
    literal array (narrow), then one map-side-combinable groupBy on the
    word index with a ``bit_or`` aggregate — output cardinality is the
    filter size, not the key count — then a single-row collect-to-map
    that densifies absent words to 0. The result is broadcastable by
    construction (4 KiB at defaults), which is the entire point: probing
    becomes ``crossJoin(broadcast(bf))`` + a codegen'd expression.

    NULL keys are dropped before hashing: a NULL can never equi-match
    anything, and letting it through would put a NULL entry into
    ``map_from_entries`` (runtime error). ``m_bits`` must be a
    power-of-two multiple of 32 no larger than 2^24: positions come from
    ``hash_bucket``'s 24-bit md5 prefix, so a wider filter would leave
    bits above 2^24 permanently unset (a silently worse FP rate than the
    formula), and a non-power-of-two size takes modulo bias.
    """
    if m_bits % BITS_PER_WORD:
        raise ValueError(f"m_bits must be a multiple of {BITS_PER_WORD}")
    if m_bits > (1 << 24):
        raise ValueError(
            "m_bits > 2^24 exceeds the 24-bit md5-prefix address space: "
            "bits above 16M could never be set and the realized FP rate "
            "would silently exceed (1-e^(-kn/m))^k"
        )
    if m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two (modulo-bias-free)")
    n_words = m_bits // BITS_PER_WORD
    c = F.col(key) if isinstance(key, str) else key
    pos = F.explode(
        F.array(*[_bit_position(c, r, m_bits) for r in range(k_hashes)])
    ).alias("pos")
    words = (
        keys.where(c.isNotNull())
        .select(pos)
        .select(
            F.floor(F.col("pos") / BITS_PER_WORD).cast("long").alias("word"),
            F.element_at(
                _pow2(), (F.col("pos") % BITS_PER_WORD).cast("int") + 1
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    wm = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("word", "bits")))
    ).alias("wm")
    dense = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
        lambda w: F.coalesce(F.element_at(F.col("wm"), w), F.lit(0).cast("long")),
    )
    return words.agg(wm).select(dense.alias("bf"))


def bloom_probe_expr(
    item: Column, bf: Column, m_bits: int = 1 << 15, k_hashes: int = 4
) -> Column:
    """Boolean 'maybe in the filter' expression: every one of the
    ``k_hashes`` addressed bits is set in ``bf``.

    Pure built-ins over a broadcast array column — codegen'd, no join,
    no shuffle, no lambda (the ``element_at``/bitwiseAND chain sits in a
    plain projection where Catalyst's subexpression elimination applies;
    contrast the no-CSE lambda traps in PERF.md).
    """
    pow2 = _pow2()
    conds = []
    for r in range(k_hashes):
        p = _bit_position(item, r, m_bits)
        word = F.element_at(bf, F.floor(p / BITS_PER_WORD).cast("int") + 1)
        mask = F.element_at(pow2, (p % BITS_PER_WORD).cast("int") + 1)
        conds.append(word.bitwiseAND(mask) != F.lit(0))
    return reduce(and_, conds)


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_overlap: int = 1,
    m_bits: int = 1 << 15,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter contamination scan: flag training documents whose
    distinct k-token shingles probably overlap the benchmark's by
    ≥ ``min_overlap`` (the constant-memory scale path of
    ``curation.ngram_decontaminate``).

    Returns (id_col, n_maybe): n_maybe counts the document's distinct
    shingles the filter accepts — an UPPER BOUND on the true overlap
    (Bloom filters have no false negatives), overcounting each
    non-overlapping shingle with probability ≈ (1 − e^(−kn/m))^k. The
    exact variant's contaminated set is therefore always a subset of
    this one at equal ``min_overlap`` — use this as the cheap first pass
    and re-check survivors exactly when the benchmark side is small
    enough, or accept the FP-inflated drop set (losing a few clean
    documents is free; keeping a contaminated one is not).

    Plan shape for 100 TB: bitmap build is benchmark-side only; the
    corpus side is shingle explode → broadcast-bitmap probe (narrow,
    codegen'd) → ONE map-side-combinable per-doc count. No corpus-side
    join at all — vs the exact form's broadcast semi-join whose build
    side grows with the benchmark.
    """
    bench_sh = (
        shingles(benchmark, text_col=text_col, id_col=id_col, k=k)
        .select("shingle")
        .distinct()
    )
    bf = bloom_bitmap(bench_sh, "shingle", m_bits=m_bits, k_hashes=k_hashes)
    doc_sh = shingles(docs, text_col=text_col, id_col=id_col, k=k)
    probed = doc_sh.crossJoin(F.broadcast(bf)).where(
        bloom_probe_expr(F.col("shingle"), F.col("bf"), m_bits, k_hashes)
    )
    return (
        probed.groupBy("id")
        .agg(F.count("*").alias("n_maybe"))
        .where(F.col("n_maybe") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_maybe")
    )


def bloom_prefilter_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    m_bits: int = 1 << 15,
    k_hashes: int = 4,
) -> DataFrame:
    """Inner equi-join with a Bloom prefilter on the left side: build
    the bitmap of the right side's distinct keys, drop left rows whose
    key cannot match BEFORE the shuffle, then run the exact join.

    Result is IDENTICAL to ``left.join(right, ...)`` — false positives
    survive the prefilter but die in the exact join — so the oracle for
    any query using this is the plain join. What changes is the plan:
    at 100 TB a big-big join shuffles both sides in full; when the join
    is selective (most left keys have no partner), the 4 KiB broadcast
    bitmap eliminates the non-matching left rows map-side, shrinking
    the shuffle by the non-match fraction at the cost of a narrow
    codegen'd probe. This is the same idea as Spark's runtime row-level
    bloom pruning (spark.sql.optimizer.runtime.bloomFilter.enabled),
    made explicit, deterministic, and available on any plan shape.
    """
    keys = right.select(F.col(right_key).cast("string").alias("k")).distinct()
    bf = bloom_bitmap(keys, "k", m_bits=m_bits, k_hashes=k_hashes)
    pre = (
        left.crossJoin(F.broadcast(bf))
        .where(
            bloom_probe_expr(
                F.col(left_key).cast("string"), F.col("bf"), m_bits, k_hashes
            )
        )
        .drop("bf")
    )
    return pre.join(right, pre[left_key] == right[right_key])
