"""Mergeable frequency sketches: count-min over token streams.

No reference analog (the reference stops at token ETL); this is the
fixed-memory frequency-observability layer a corpus pipeline runs when
exact per-item counts are too big to hold — the count-min sketch of
Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
count-min sketch and its applications", J. Algorithms 55(1)).

Why a sketch when ``groupBy(token).count()`` is exact? At 100 TB the
distinct-token frame is billions of rows and must itself be shuffled,
stored, and joined; the CMS is ``depth × width`` counters TOTAL —
kilobytes — regardless of corpus bytes, it merges by cell-wise addition
(so per-partition sketches combine map-side and across days/sources),
and membership questions against it are a broadcast join. The estimate
is an upper bound: ``est ≥ true`` always, with ``est ≤ true + εN`` at
probability 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.

All hashing is md5-prefix bucketing (``curation.hash_bucket`` with a
row-index salt) — deterministic, JVM-codegen'd, and byte-for-byte
reproducible by the DuckDB oracle. Never ``rand()``, same rule as every
other operator in this package.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.operators.curation import hash_bucket


def _salted_bucket(item: Column, row: int, width: int) -> Column:
    """Bucket of ``item`` under hash row ``row``: md5 of 'row:item'."""
    return hash_bucket(F.concat(F.lit(f"{row}:"), item), width)


def countmin_table(
    df: DataFrame,
    item_col: str = "token",
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the count-min counter table: (row, bucket, cnt), exactly
    ``depth × width`` cells (absent cells are implicitly zero).

    Input is one row per item occurrence (``weight_col=None``) or a
    pre-aggregated (item, weight) frame — building from exact partial
    counts is cell-wise identical to streaming every occurrence, which
    is the CMS mergeability property and why a pipeline can sketch each
    source/day independently and union the tables.

    Plan shape: the ``depth`` (row, bucket) projections explode from a
    literal struct array (narrow, no shuffle), then ONE
    map-side-combinable groupBy on (row, bucket) — whose output
    cardinality is the sketch size, not the data size. The result is
    broadcastable by construction.
    """
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _salted_bucket(F.col(item_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("cell"), w.alias("w"))
        .groupBy(F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
        .agg(F.sum("w").alias("cnt"))
    )


def countmin_estimate(
    items: DataFrame,
    cms: DataFrame,
    item_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    est_col: str = "est_n",
) -> DataFrame:
    """Point-query the sketch: for each row of ``items`` append
    ``est_col`` = min over hash rows of the addressed counter (the CMS
    estimate — an upper bound on the true count; missing cells are
    impossible for items the sketch saw, and would mean 0).

    ``cms`` is sketch-sized, so the join is broadcast: estimation is a
    narrow pass over ``items`` — the whole point of sketching at scale.
    """
    probes = items.select(
        "*", F.posexplode(
            F.array(*[_salted_bucket(F.col(item_col), r, width) for r in range(depth)])
        ).alias("row", "bucket")
    )
    others = [c for c in items.columns]
    return (
        probes.join(F.broadcast(cms), ["row", "bucket"])
        .groupBy(*others)
        .agg(F.min("cnt").alias(est_col))
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (deterministic, oracle-replayable)

#: Register count (2^8). Standard error 1.04/sqrt(m) ≈ 6.5%.
HLL_M = 256

#: rho range: the 48-bit md5-prefix hash gives rho ∈ [1, 49]
#: (49 = all-zero hash, probability 2^-48).
_HLL_W = 48

def hll_alpha_m2(m: int = HLL_M) -> float:
    """alpha_m * m^2 (Flajolet et al. 2007, valid m ≥ 128) computed once
    in PYTHON so Spark plans and DuckDB oracles embed the SAME double
    literal — never re-derived independently in each engine."""
    return (0.7213 / (1.0 + 1.079 / m)) * float(m * m)


def hll_registers(
    df: DataFrame,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    m: int = HLL_M,
) -> DataFrame:
    """Per-group HLL register table: (group..., bucket, m_j) with
    m_j = max over the bucket's items of rho(item) — rho being the
    1-based position of the highest set bit counted from the top of a
    48-bit hash (Flajolet et al. 2007, "HyperLogLog: the analysis of a
    near-optimal cardinality estimation algorithm", AofA).

    Why a sketch when ``countDistinct`` is exact? Exact distinct at
    100 TB shuffles every distinct value; the register table is ≤ m rows
    per group, merges across days/sources/partitions by cell-wise MAX
    (duplicates can never raise a max — the insensitivity that makes the
    estimate union-able), and the per-row work is two md5s.

    Determinism contract: bucket and rho come from two independently
    salted md5 prefixes ('hllb:'/'hllr:'), rho via the integer-exact
    ``49 - length(bin(h))`` (both engines print minimal binary), never
    float log2 — so the DuckDB oracle reproduces every register
    byte-for-byte.
    """
    item = F.col(item_col).cast("string")
    bucket = hash_bucket(F.concat(F.lit("hllb:"), item), m)
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("hllr:"), item)), 1, 12), 16, 10
    ).cast("long")
    rho = F.when(hv == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(hv))
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: tuple[str, ...] = (),
    m: int = HLL_M,
) -> DataFrame:
    """Collapse a register table to (group..., n_obs, v_zero, hll_est):
    the raw HLL estimate alpha_m·m²/Σ 2^(−M_j), with absent registers
    contributing 2^0 = 1 each (v_zero of them).

    Bit-reproducibility: 2^(−M_j) is an exact binary fraction (a literal
    power-of-two array lookup, not float ``pow``), the per-group fold
    runs over the BUCKET-SORTED term array so double accumulation order
    is pinned (the q_array_ops pattern), and the final
    ``s_obs + v_zero`` / division happen in one fixed expression order —
    the DuckDB oracle replays all of it exactly. The small-range
    (linear-counting) correction applies below 2.5·m — per the paper —
    with its only transcendental, ln(m/V), drawn from a Python-computed
    literal table (``operators/rollup.hll_ln_table``) both engines index
    identically, so no runtime ln anywhere.
    """
    from token_etl_spark.operators.rollup import hll_ln_table

    pow2 = F.array(*[F.lit(float(1 << i)) for i in range(_HLL_W + 2)])
    term = F.lit(1.0) / F.element_at(pow2, F.col("m_j").cast("int") + 1)
    with_terms = registers.select(*group_cols, "bucket", term.alias("term"))
    s_obs = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "term"))),
            lambda s: s.getField("term"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    agged = with_terms.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_obs"), s_obs.alias("s_obs")
    )
    v_zero = (F.lit(m) - F.col("n_obs")).cast("long")
    s_sum = F.col("s_obs") + v_zero.cast("double")
    raw = F.lit(hll_alpha_m2(m)) / s_sum
    ln_tab = F.array(*[F.lit(x) for x in hll_ln_table(m)])
    lc = F.lit(float(m)) * F.element_at(ln_tab, v_zero.cast("int"))
    est = F.when((v_zero > 0) & (raw <= F.lit(2.5 * m)), lc).otherwise(raw)
    return agged.select(
        *group_cols,
        "n_obs",
        v_zero.alias("v_zero"),
        est.alias("hll_est"),
    )


# ---------------------------------------------------------------------------
# fixed-range histogram sketch → quantile estimates


def histogram_counts(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Equi-width histogram sketch: (group..., bin, cnt) with
    bin = clamp(floor((v − lo)/width), 0, n_bins−1). Fixed ``n_bins``
    rows per group regardless of data volume, merges by cell-wise
    ADDITION (shard per day/source, sum to combine), and the groupBy is
    map-side combinable — the quantile answer at 100 TB without the
    global sort that exact ``percentile`` needs. NULLs are dropped
    (same as percentile); out-of-range values clamp into the edge bins,
    so the sketch never loses mass — edge-bin estimates degrade instead.
    """
    width = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("long")
    return (
        df.where(v.isNotNull())
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    qs: tuple[float, ...],
    lo: float,
    hi: float,
    n_bins: int = 128,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, find the
    first bin whose cumulative count reaches target = q·n and
    interpolate by rank inside it:

        est = lo + width · (bin + (target − cum_before) / cnt_bin)

    All heavy lifting is integer (window cumsums over the ≤ n_bins-row
    sketch — exact, order-free); the only floats are the final fixed-
    order interpolation (+,−,·,/ are exactly-rounded IEEE), so the
    DuckDB oracle reproduces estimates bit-for-bit. Returns
    (group..., q, n_rows, bin, est). The bin-selection predicate
    cum_before < target ≤ cum picks exactly one bin per (group, q) for
    q ∈ (0, 1]; cnt_bin > 0 there by construction.
    """
    width = (hi - lo) / n_bins
    g = list(group_cols)
    w = (
        Window.partitionBy(*g)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*g)
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n_rows", F.sum("cnt").over(wall))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
    )
    qdf = cum.select(
        "*", F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    target = F.col("q") * F.col("n_rows").cast("double")
    picked = qdf.where(
        (F.col("cum_before").cast("double") < target)
        & (target <= F.col("cum").cast("double"))
    )
    est = F.lit(lo) + F.lit(width) * (
        F.col("bin").cast("double")
        + (target - F.col("cum_before").cast("double")) / F.col("cnt").cast("double")
    )
    return picked.select(*g, "q", "n_rows", "bin", est.alias("est"))


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch → set-overlap estimates

#: 2^48 — the md5-prefix hash space (exact double).
_KMV_SPACE = float(1 << 48)

KMV_K = 128


def kmv_sketch(
    df: DataFrame,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = KMV_K,
    n_prebuckets: int = 64,
) -> DataFrame:
    """Per-group bottom-k sketch: the ``k`` smallest distinct 48-bit
    md5-prefix hashes of the group's items (Beyer et al. 2007, "On
    synopses for distinct value estimation under multiset operations",
    SIGMOD). Returns (group..., h, rank) with rank ∈ [1, k].

    What KMV adds over HLL: the synopsis is a SAMPLE of the hash space,
    so two groups' sketches compose under set operations — union by
    merge-and-trim, and INTERSECTION via the Jaccard of the merged
    bottom-k (``kmv_pairwise``) — which register sketches cannot do.

    Scale shape: distinct-then-rank would sort each group's whole
    distinct frame through one partition, so phase 1 takes per-
    (group, h % n_prebuckets) ``row_number() ≤ k`` (the bottom-k of the
    group is bottom-k within its bucket), leaving ≤ k·n_prebuckets rows
    per group for the real rank — the ``ext_top_tokens`` two-phase
    pattern. Hashing is the usual salted md5 prefix: deterministic and
    oracle-replayable.
    """
    item = F.col(item_col).cast("string")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), item)), 1, 12), 16, 10
    ).cast("long")
    g = list(group_cols)
    hashes = df.select(*g, h.alias("h")).distinct()
    wb = Window.partitionBy(*g, "pb").orderBy("h")
    pre = (
        hashes.withColumn("pb", F.col("h") % n_prebuckets)
        .withColumn("pr", F.row_number().over(wb))
        .where(F.col("pr") <= k)
        .drop("pb", "pr")
    )
    w = Window.partitionBy(*g).orderBy("h")
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def kmv_estimate_expr(count_col: Column, max_h_col: Column, k: int) -> Column:
    """Distinct-count estimate from a bottom-k set: (k−1)/U_k with
    U_k = h_k/2^48 — computed as (k−1)·2^48 / h_k in one pinned order.
    When the set holds fewer than k hashes the sketch IS the distinct
    set, so the exact count is returned."""
    return F.when(count_col < k, count_col.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / max_h_col.cast("double")
    )


def kmv_pairwise(
    ksets: DataFrame,
    group_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """All-pairs set-overlap estimates from per-group bottom-k sketches:
    for each unordered group pair (a < b), merge the two k-sets, keep
    the k smallest distinct hashes X, and estimate

        jaccard_est = |X ∩ A ∩ B| / min(|X|, k)   (Beyer et al. §4)
        union_est   = (k−1) / (max X / 2^48)
        inter_est   = jaccard_est · union_est

    The min(|X|, k) denominator matches ``kmv_estimate_expr``'s
    exactness contract: when the merged bottom-k holds fewer than k
    hashes the sketch IS the complete union, so jaccard (and hence
    inter_est) is exact, not a /k underestimate.

    Everything until the three final fixed-order float ops is integer
    (ranks, counts, max) — the DuckDB oracle replays estimates
    bit-for-bit. Input is sketch-sized (k rows per group), so this whole
    operator runs on ≤ k·|groups| rows regardless of corpus bytes; the
    pair frame is |groups|² / 2 × k rows — broadcast-scale for any sane
    group count.
    """
    names = ksets.select(F.col(group_col).alias("ga")).distinct()
    pairs = (
        names.crossJoin(
            ksets.select(F.col(group_col).alias("gb")).distinct()
        ).where(F.col("ga") < F.col("gb"))
    )
    a = ksets.select(F.col(group_col).alias("ga"), F.col("h").alias("h"))
    b = ksets.select(F.col(group_col).alias("gb"), F.col("h").alias("h"))
    tagged = (
        pairs.join(a, "ga").withColumn("in_a", F.lit(1)).withColumn("in_b", F.lit(0))
        .unionByName(
            pairs.join(b, "gb")
            .withColumn("in_a", F.lit(0))
            .withColumn("in_b", F.lit(1))
            .select("ga", "gb", "h", "in_a", "in_b")
        )
    )
    merged = tagged.groupBy("ga", "gb", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    x = merged.withColumn("xr", F.row_number().over(w)).where(F.col("xr") <= k)
    per_pair = x.groupBy("ga", "gb").agg(
        F.count("*").alias("n_x"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.max("h").alias("h_k"),
    )
    union_est = kmv_estimate_expr(F.col("n_x"), F.col("h_k"), k)
    jacc = F.col("n_both").cast("double") / F.least(
        F.col("n_x"), F.lit(k)
    ).cast("double")
    return per_pair.select(
        "ga",
        "gb",
        "n_both",
        jacc.alias("jaccard_est"),
        union_est.alias("union_est"),
        (jacc * union_est).alias("inter_est"),
    )
