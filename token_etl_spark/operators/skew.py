"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew; these explicit forms cover the two cases AQE cannot: a *hash
aggregation* whose hot grouping key overwhelms one task, and a shuffle
join against a side too large to broadcast where one key dominates.

Both are deterministic: the salt is murmur3 of the full row (or caller-
chosen columns) mod n — no rand(), so replays and retries produce
identical partitioning (a lineage-recompute with rand() salt would
double-count rows across retried tasks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: merge rule per aggregate: how partial per-salt results re-combine.
_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # counts re-combine by summing
    "min": F.min,
    "max": F.max,
}


def _salt(df: DataFrame, cols: list[str] | None, n: int) -> Column:
    src = [F.col(c) for c in (cols or df.columns)]
    return F.pmod(F.hash(*src), F.lit(n))


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation: partial per (keys, salt), final per keys.

    ``aggs``: output_name → (function, input_col) with function in
    {sum, count, min, max}. A hot key's rows spread over ``n_salts``
    partial tasks; the final phase combines n_salts rows per key —
    bounded regardless of the key's row count.
    """
    for fn, _ in aggs.values():
        if fn not in _MERGE:
            raise ValueError(f"unsupported salted aggregate: {fn}")
    salted = df.withColumn("_salt", _salt(df, salt_cols, n_salts))
    partial_exprs = []
    for out, (fn, col) in aggs.items():
        expr = F.count(col) if fn == "count" else getattr(F, fn)(col)
        partial_exprs.append(expr.alias(f"_p_{out}"))
    partial = salted.groupBy(*group_cols, "_salt").agg(*partial_exprs)
    final_exprs = [
        _MERGE[fn](f"_p_{out}").alias(out) for out, (fn, _) in aggs.items()
    ]
    return partial.groupBy(*group_cols).agg(*final_exprs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small.

    The big side's hot key spreads across ``n_salts`` shuffle partitions;
    the small side is exploded ×n_salts (acceptable when small ≪ big —
    the same regime where the skew hurts). Result equals
    ``big.join(small, key, how)`` exactly.
    """
    big_salted = big.withColumn("_salt", _salt(big, None, n_salts))
    small_replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_salted.join(small_replicated, [key, "_salt"], how).drop("_salt")


def skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Hot-key diagnostic: the ``top_k`` heaviest values of ``key_cols``
    with their row count and share of the table — the measurement that
    decides whether a join/agg key needs salting (``salted_join`` /
    ``salted_aggregate``) BEFORE the skewed shuffle burns a
    1000-executor stage on one straggler task.

    Plan shape (the 100 TB design): the per-key count is one combinable
    aggregation (shuffle carries |keys| partial counts, not rows); the
    top-k over that counts frame is TWO-PHASE (per-hash-bucket
    ``row_number() <= k`` pre-rank, then the global rank over the
    <= k*n_buckets survivors — the ``ext_top_tokens`` discipline, since
    a join key's distinct frame can itself run to billions); the total
    enters as a 1-row broadcast crossJoin, never a driver collect. Ties
    break on the key columns for a deterministic, oracle-replayable
    ranking.
    """
    from pyspark.sql import Window

    keys = [F.col(c) for c in key_cols]
    counts = df.groupBy(*keys).agg(F.count("*").alias("n"))
    # grand total = sum(n) over the counts frame, NOT a second df.agg
    # scan: both branches share the identical groupBy exchange, so AQE's
    # ReuseExchange serves the total from the counts shuffle instead of
    # re-reading the corpus (plan-asserted in test_plan_hygiene).
    total = counts.agg(F.sum("n").alias("_tot"))
    wb = Window.partitionBy("_bkt").orderBy(F.col("n").desc(), *key_cols)
    survivors = (
        counts.withColumn("_bkt", F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)))
        .withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= top_k)
        .drop("_bkt", "_r")
    )
    wg = Window.orderBy(F.col("n").desc(), *key_cols)
    return (
        survivors.withColumn("rank", F.row_number().over(wg))
        .filter(F.col("rank") <= top_k)
        .crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n").cast("double") / F.col("_tot"))
        .drop("_tot")
    )
