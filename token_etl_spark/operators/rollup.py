"""Continuous hourly rollup — a hypertable-style continuous aggregate
(TimescaleDB's "continuous aggregates" / materialized-view maintenance
pattern) expressed as two DataFrame algebra pieces:

- :func:`hourly_rollup` — the aggregate itself, restricted to MERGEABLE
  aggregates (count→sum, sum→sum, min→min, max→max) so partial rollups
  compose;
- :func:`rollup_merge_read` — the serving half: cold hours from the
  materialized table and the hot tail from raw events, returning
  EXACTLY what the full aggregation over raw data would (result
  transparency — the oracle for any query built on this is the plain
  GROUP BY).

Why this shape at 100 TB: an hourly dashboard query over years of raw
events re-scans everything on every run; the rollup table is
hours × keys rows (millions, not billions), the hot side touches only
events newer than the cutoff (a pushed-down timestamp range scan —
the predicate compares the raw timestamp column to a literal, never a
function of the column, so parquet min/max pruning skips cold files),
and the serving union re-aggregates nothing cold. countDistinct is
deliberately ABSENT from the mergeable-exact schema: it is not
mergeable — the mergeable distinct answer is the HLL register column
(:func:`hourly_rollup_hll` / :func:`merge_hll_rollups` /
:func:`hll_estimate_from_regs` below: dense per-hour register arrays
combined by element-wise max, estimated at serving time).

No reference analog as an operator (the reference recomputes its
per-token metrics from scratch each run — SURVEY §3); this is the
incremental-maintenance layer above its A1-A12 aggregation semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from token_etl_spark.functions.timeops import hour_bucket


def hourly_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """(hour_ts, keys..., n_events, sum_value, min_value, max_value) —
    one map-side-combinable groupBy; every aggregate is mergeable."""
    hour = hour_bucket(F.unix_timestamp(F.col(ts_col)))
    return events.groupBy(hour.alias("hour_ts"), *key_cols).agg(
        F.count("*").alias("n_events"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def rollup_merge_read(
    rollup: DataFrame,
    events: DataFrame,
    cutoff_ts: int,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Serve the aggregate: cold hours from the materialized rollup,
    the hot tail (≥ hour-aligned ``cutoff_ts``) aggregated from raw.
    The two sides cover disjoint hour ranges, so the union IS the full
    aggregation over raw events — result-transparent by construction."""
    if cutoff_ts % 3600:
        raise ValueError("cutoff_ts must be hour-aligned")
    cold = rollup.where(F.col("hour_ts") < cutoff_ts)
    hot = hourly_rollup(
        events.where(F.col(ts_col) >= F.timestamp_seconds(F.lit(cutoff_ts))),
        ts_col,
        key_cols,
        value_col,
    )
    return cold.unionByName(hot)


# ---------------------------------------------------------------------------
# approximate-distinct rollup column (HLL registers as rollup state)


def hourly_rollup_hll(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    item_col: str = "user_id",
    m: int = 256,
) -> DataFrame:
    """(hour_ts, keys..., hll_regs): the mergeable DISTINCT column for
    the continuous aggregate — ``hll_regs`` is the hour's dense HLL
    register array (length m, index = bucket, value = max rho, 0 for
    never-hit). countDistinct cannot live in a rollup (not mergeable);
    this can: shards/days combine by element-wise max
    (:func:`merge_hll_rollups`), and :func:`hll_estimate_from_regs`
    turns any merged row into the estimate at serving time. Same
    register contract as operators/sketch.py hll_registers (pinned
    salted-md5 hashing), just densified so a row is a fixed-size value.
    """
    from token_etl_spark.operators.sketch import hll_registers

    hour = hour_bucket(F.unix_timestamp(F.col(ts_col)))
    base = events.select(hour.alias("hour_ts"), *key_cols, item_col)
    regs = hll_registers(base, item_col, ("hour_ts", *key_cols), m=m)
    # Densify by SCATTERING the bucket-sorted sparse entries into their
    # zero-gaps: each entry contributes (zero-run, value), plus one
    # trailing zero-run — O(n + m) per group. The previous form probed a
    # map once per register slot, and Spark's ArrayBasedMapData lookup
    # is a LINEAR scan, i.e. m × O(n) interpreted comparisons per group
    # (measured as the dominant term of the serial post-shuffle task in
    # this rollup's plan — OPTIMIZATION_r16.md). Same dense array
    # bit-for-bit: buckets are distinct per group and sorted, so the
    # scatter reproduces coalesce(map[b], 0) for every b in 0..m-1.
    # Each entry's predecessor bucket comes from the bucket list shifted
    # right by one behind a -1 sentinel, so no index below 1 is ever
    # built (ANSI-safe without leaning on lazy CASE evaluation).
    entries = F.sort_array(F.collect_list(F.struct("bucket", "m_j"))).alias("_ent")
    ent = F.col("_ent")
    n = F.size(ent)
    buckets = F.transform(ent, lambda e: e.getField("bucket"))
    prev = F.concat(F.array(F.lit(-1).cast("long")), F.slice(buckets, 1, n - 1))
    runs = F.zip_with(
        ent,
        prev,
        lambda e, p: F.concat(
            F.array_repeat(
                F.lit(0), (e.getField("bucket") - p - F.lit(1)).cast("int")
            ),
            F.array(e.getField("m_j")),
        ),
    )
    tail = F.array_repeat(
        F.lit(0),
        (F.lit(m - 1) - F.element_at(ent, n).getField("bucket")).cast("int"),
    )
    dense = F.concat(F.flatten(runs), tail)
    return (
        regs.groupBy("hour_ts", *key_cols)
        .agg(entries)
        .select("hour_ts", *key_cols, dense.alias("hll_regs"))
    )


def merge_hll_rollups(
    a: DataFrame, b: DataFrame, key_cols: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Cell-wise max of register arrays across shards: exact for any
    partition of the events (max is insensitive to how duplicates are
    split — the HLL merge law, pinned in tests).

    The max runs as a per-group ``zip_with`` fold over the collected
    register arrays (one union, ONE shuffle keyed on the group — the
    rows are already the dense fixed-size arrays). The previous form
    posexploded every register slot (m rows per input row), shuffled
    and max-aggregated (group × m) keys, then re-collected and re-sorted
    each group's m slots — m× the shuffled rows and an O(m log m)
    interpreted reassembly per group, for the same element-wise ints
    (same dense contract, bit-identical output)."""
    stacked = (
        a.unionByName(b)
        .groupBy("hour_ts", *key_cols)
        .agg(F.collect_list("hll_regs").alias("_regs"))
    )
    merged = F.aggregate(
        F.slice(F.col("_regs"), 2, F.greatest(F.size("_regs") - 1, F.lit(0))),
        F.element_at(F.col("_regs"), 1),
        lambda acc, x: F.zip_with(acc, x, lambda l, r: F.greatest(l, r)),
    )
    return stacked.select("hour_ts", *key_cols, merged.alias("hll_regs"))


def hll_ln_table(m: int = 256) -> list[float]:
    """ln(m/V) for V = 1..m, computed ONCE in Python — the linear-
    counting correction's only transcendental, turned into a literal
    table so neither engine ever calls ln at runtime (ln is correctly
    rounded in neither; a 256-entry double table is exact on both)."""
    import math

    return [math.log(m / v) for v in range(1, m + 1)]


def hll_estimate_from_regs(regs, m: int = 256):
    """HLL estimate from a dense register array, WITH the Flajolet
    small-range correction — per-hour distinct counts in a rollup are
    routinely far below m, where the raw harmonic estimator biases
    ~two orders of magnitude high (measured: n=1 → raw ≈ 185 at m=256;
    linear counting gives 1.002). Estimator:

        V = #zero registers;  raw = alpha_m·m²/Σ 2^(−reg)
        est = m·ln(m/V)   if V > 0 and raw ≤ 2.5·m   (linear counting)
            = raw         otherwise

    Bit-replayable: the fold runs in array (= bucket) order, absent
    registers are 0 in the dense array (2^0 terms need no v_zero
    bookkeeping), and ln(m/V) comes from the Python-computed literal
    table (:func:`hll_ln_table`) both engines index identically."""
    from token_etl_spark.operators.sketch import hll_alpha_m2

    regs = F.col(regs) if isinstance(regs, str) else regs
    pow2 = F.array(*[F.lit(float(1 << i)) for i in range(50)])
    s = F.aggregate(
        F.transform(regs, lambda r: F.lit(1.0) / F.element_at(pow2, r + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    raw = F.lit(hll_alpha_m2(m)) / s
    v_zero = F.size(F.filter(regs, lambda r: r == 0))
    ln_tab = F.array(*[F.lit(x) for x in hll_ln_table(m)])
    lc = F.lit(float(m)) * F.element_at(ln_tab, v_zero)
    return F.when((v_zero > 0) & (raw <= F.lit(2.5 * m)), lc).otherwise(raw)
