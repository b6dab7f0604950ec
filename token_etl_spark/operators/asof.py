"""As-of (point-in-time) join — a custom operator Spark lacks natively.

Implemented as a composition of existing DataFrame ops (the preferred
strategy per SURVEY §7): union both sides tagged by origin, sort within
each key partition by (ts, origin-priority), and forward-fill the right
side's payload with ``last(..., ignorenulls=True)`` — each left row then
carries the most recent right row at-or-before its timestamp.

Cost: ONE shuffle (hash on the join key) + per-partition sort — the same
work a sort-merge join would do, with no range-explosion. Skewed keys
are handled by AQE skew-split since the window is key-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` and equal key.

    Returns all left columns plus ``right_payload`` columns (null when no
    earlier right row exists).
    """
    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        # DataType object, not simpleString: the DDL round-trip breaks on
        # column names that need quoting (same fix as route_to_shards)
        F.lit(None).cast(
            right.select(F.struct(*right_payload).alias("s")).schema["s"].dataType
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType
        ).alias("_l"),
        F.struct(*right_payload).alias("_r"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows (side 0) sort before left rows at an equal timestamp, so
    # a right row at exactly the left ts is visible (inclusive <=)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts"), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn("_rfill", F.last("_r", ignorenulls=True).over(w))
    out = filled.filter(F.col("_side") == 1)
    cols = [F.col(f"_l.{c}").alias(c) for c in left.columns] + [
        F.col(f"_rfill.{c}").alias(c) for c in right_payload
    ]
    return out.select(*cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    lower: int = 0,
    upper: int = 3600,
) -> DataFrame:
    """Banded time-range join: every left row paired with the right rows
    whose timestamp lies in ``[left_ts + lower, left_ts + upper]``
    (seconds, inclusive) with equal ``on`` keys.

    A naive inequality join degenerates to a broadcast-nested-loop in
    Spark. This form bucketizes both sides by ``width = upper - lower + 1``
    seconds: a left row's window spans at most two buckets, so the left
    side explodes ×2 onto (keys, bucket) and the pairing happens in an
    equi hash join, with the exact range applied as a post-filter —
    O(matches) work after one shuffle each side, no theta join anywhere.

    Both inputs must not share ambiguous column names beyond ``on``
    (rename timestamps/payloads before calling, as with any self-join).
    """
    if upper < lower:
        raise ValueError("upper must be >= lower")
    width = upper - lower + 1
    l_sec = F.unix_timestamp(F.col(left_ts))
    r_sec = F.unix_timestamp(F.col(right_ts))
    r_b = right.withColumn("_bucket", F.floor(r_sec / width))
    base = F.floor((l_sec + F.lit(lower)) / width)
    l_b = left.withColumn(
        "_bucket", F.explode(F.array(base, base + 1))
    )
    return (
        l_b.join(r_b, [*on, "_bucket"])
        .filter(
            F.unix_timestamp(F.col(right_ts)).between(
                F.unix_timestamp(F.col(left_ts)) + lower,
                F.unix_timestamp(F.col(left_ts)) + upper,
            )
        )
        .drop("_bucket")
    )
