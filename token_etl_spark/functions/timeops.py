"""Time bucketing + changelog collapse (SURVEY §2.8 Math, §2.4 A11).

Canonical time semantics (shared with every DuckDB oracle):
- all timestamps are UTC; domain time is unix **seconds** (LongType);
- bucketing is truncating integer division on positive unix seconds
  (``(ts / 3600).cast(long)`` in the reference, BaseEnricher.scala:89,206,
  241 — truncation == floor for positive inputs, which is all of them);
- a "changelog" is a ``Map<bucket_start_seconds → value>`` column built by
  ``map_from_entries(sort_array(collect_list(struct(ts, value))))``
  (reference pattern ×7, BaseEnricher.scala:162-177 etc. — the reference
  omits the sort; we pin entry order so duplicate-timestamp collisions
  resolve deterministically by last-sorted-entry, and so output hashes are
  stable).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HOUR = 3600
DAY = 86400


def unix_seconds(ts: Column | str) -> Column:
    """TimestampType (or stringified-seconds) → unix seconds as long.

    ``unix_timestamp`` truncates sub-second parts toward zero — identical
    to ``floor(epoch(ts))`` in the DuckDB oracle for positive times.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_timestamp(c).cast("long")


def bucket(ts_seconds: Column | str, width: int) -> Column:
    """Truncating bucket: ``(ts div width) * width`` (bucket start)."""
    c = F.col(ts_seconds) if isinstance(ts_seconds, str) else ts_seconds
    return ((c.cast("long") / width).cast("long") * width).cast("long")


def require_timestamp(ts_seconds: Column, pipeline: str) -> Column:
    """``ts_seconds`` unchanged, or a runtime error naming ``pipeline``
    and ``transact_at`` on a row without one (a transfer whose block is
    missing from the block-timestamp dimension). In-plan, so it adds no
    Spark job; without it the null surfaces later as a bare
    ``NULL_MAP_KEY`` from the changelog collapse."""
    return F.when(
        ts_seconds.isNull(),
        F.raise_error(
            F.lit(
                f"{pipeline}: a transfer has no timestamp (transact_at is null "
                "or not unix seconds) — is its block missing from the "
                "block_timestamps dimension?"
            )
        ),
    ).otherwise(ts_seconds)


def hour_bucket(ts_seconds: Column | str) -> Column:
    return bucket(ts_seconds, HOUR)


def day_bucket(ts_seconds: Column | str) -> Column:
    return bucket(ts_seconds, DAY)


def changelog_entries(ts: Column | str, value: Column | str) -> Column:
    """Sorted array<struct<ts,value>> — deterministic pre-image of A11."""
    t = F.col(ts) if isinstance(ts, str) else ts
    v = F.col(value) if isinstance(value, str) else value
    return F.sort_array(F.collect_list(F.struct(t.alias("ts"), v.alias("value"))))


def changelog(ts: Column | str, value: Column | str, out: str) -> Column:
    """A11 collapse-to-map, an aggregate: ``Map<ts → value>`` named ``out``
    over the group's rows.

    Reference pattern (BaseEnricher.scala:162-177 and six siblings):
    ``select(collect_list(struct(ts, value)))`` → ``map_from_entries``;
    per-address variant WalletEnricher.scala:42-58. Grouped per key, the
    map is bounded by the group's bucket count, not the table size.
    """
    return F.map_from_entries(changelog_entries(ts, value)).alias(out)
