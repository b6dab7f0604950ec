"""Event-sequence analytics: ordered-step funnels and cohort retention.

No reference analog (the reference stops at per-bucket aggregation —
SURVEY §2.4); these are the two event-analytics shapes every product/
telemetry warehouse asks of an events table, and both reduce to plain
keyed aggregations + self-joins — no per-user iteration, no UDFs.

Funnel semantics (DECLARED, anchored-first): a user converts step i at
the EARLIEST event of step i's type that is strictly after their step
i-1 time and within ``window_s`` seconds of their step-1 time. Anchoring
the window at the first step-1 event (rather than sliding over all
step-1 candidates) is the greedy semantics ClickHouse's windowFunnel
popularized in 'strict order' mode — deterministic, exact, and
replayable as three chained min() aggregations. Greedy-earliest is
optimal GIVEN the anchor: taking the earliest qualifying event at each
step maximizes the remaining window for later steps.

All times are integer microseconds (``unix_micros`` / DuckDB
``epoch_us``), so every comparison is integer-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_reach(
    events: DataFrame,
    steps: list[str],
    window_s: int = 86_400,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel reach times: (user, t1, t2, ..., tN) in integer
    microseconds, NULL from the first unconverted step onward.

    Plan shape: one filtered min() aggregation per step, each joined on
    the user key — N-1 shuffles of (user, ts) pairs, never the event
    payload, and each stage's frame is one row per surviving user (the
    funnel shrinks monotonically). At 100 TB this beats the
    collect-events-per-user fold: no user's event list is ever
    materialized, skew is bounded by per-user aggregation (map-side
    combinable mins), and each stage broadcasts naturally once the
    funnel narrows.

    Each stage consumes its predecessor twice (candidate filter + left
    join), so the uncut lineage re-runs earlier stages' event scans
    ~2× per extra step. Persisting the stage frames was measured to cost
    MORE than the recompute at gate scale (0.25 s uncut vs 2.5 s
    first-run cached at sf0.1, identical results); where the events scan
    dominates, use :func:`funnel_reach_onepass` or persist the reach
    frame to parquet between pipelines.
    """
    us = F.col(ts_col)
    micros = F.unix_micros(us)
    out = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("user"))
        .agg(F.min(micros).alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            events.where(F.col(type_col) == step)
            .select(F.col(user_col).alias("user"), micros.alias("_ts"))
            .join(out, "user")
            .where(
                (F.col("_ts") > F.col(f"t{i-1}"))
                & (F.col("_ts") <= F.col("t1") + F.lit(window_s * 1_000_000))
            )
            .groupBy("user")
            .agg(F.min("_ts").alias(f"t{i}"))
        )
        out = out.join(nxt, "user", "left")
    return out


def funnel_reach_onepass(
    events: DataFrame,
    steps: list[str],
    window_s: int = 86_400,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Single-scan form of :func:`funnel_reach` — identical output
    (equivalence pinned in tests/test_funnel.py, and both match the
    pure-Python greedy fold in tests/test_properties.py), different plan:
    ONE pass over ``events`` and ONE shuffle on the user key, instead of
    the chained form's ~2(k−1) event re-scans.

    The anchored-first semantics IS a single event-time-ordered greedy
    fold (the same fold ``streaming_funnel_reach`` carries in state), so
    the plan is: filter to step-typed events, collect each user's
    (tm, step_idx) pairs sorted by time, and ``F.aggregate`` the greedy
    step resolution over that array — all inside whole-stage codegen, no
    UDF. Ties (equal tm) resolve identically to the chained min() form:
    a step-i event at exactly t_{i-1} fails the strict ``tm > t_{i-1}``
    either way, regardless of fold order.

    Per-user state is the user's OWN step-typed events (the same rows
    the chained form shuffles into every stage, here shuffled once) —
    bounded by per-user activity, not the corpus. A pathological user
    with millions of step events would materialize that array in one
    task; for such skew use the chained :func:`funnel_reach`, whose
    per-stage min() aggregations are map-side combinable and never hold
    a user's events together.
    """
    k = len(steps)
    window_us = window_s * 1_000_000
    step_arr = F.array(*[F.lit(s) for s in steps])
    micros = F.unix_micros(F.col(ts_col))
    per_user = (
        events.where(F.col(type_col).isin(list(steps)))
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                micros.alias("tm"),
                (F.array_position(step_arr, F.col(type_col)) - 1)
                .cast("int")
                .alias("i"),
            ).alias("e"),
        )
        .groupBy("user")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
    )
    init = F.array(*[F.lit(-1).cast("long") for _ in range(k)])

    def upd(acc, e):
        tm = e.getField("tm")
        i = e.getField("i")

        def slot(j):
            cur = F.element_at(acc, j + 1)
            first = (i == 0) & (j == 0) & (cur < 0)
            later = (
                (j == i)
                & (j > 0)
                & (cur < 0)
                & (F.element_at(acc, j) >= 0)
                & (tm > F.element_at(acc, j))
                & (tm <= F.element_at(acc, 1) + F.lit(window_us))
            )
            return F.when(first | later, tm).otherwise(cur)

        return F.transform(F.sequence(F.lit(0), F.lit(k - 1)), slot)

    # users with no step-1 event never anchor and are excluded, exactly
    # like the chained form; the filter is the cheap `exists` scan of
    # the event array — filtering on the fold's own t1 slot would make
    # Catalyst inline the whole fold into the Filter and evaluate it
    # twice per user (predicate + projection)
    reach = per_user.where(
        F.exists("es", lambda e: e.getField("i") == 0)
    ).select("user", F.aggregate("es", init, upd).alias("t"))
    # -1 is the in-fold "unreached" sentinel
    return reach.select(
        "user",
        *[
            F.when(F.element_at("t", i) >= 0, F.element_at("t", i)).alias(f"t{i}")
            for i in range(1, k + 1)
        ],
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    window_s: int = 86_400,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Funnel rollup: (step, step_name, n_users, pct_of_step1) — users
    reaching each step under the anchored-first semantics. ``pct`` is
    one final division of exact longs.

    The per-step rows come from ONE explode over the 1-row counts frame
    (not k unioned selects), so the reach pipeline runs exactly once and
    nothing needs a persist. The reach plan is the single-scan
    :func:`funnel_reach_onepass`."""
    reach = funnel_reach_onepass(events, steps, window_s, user_col, type_col, ts_col)
    counts = reach.agg(
        *[
            F.count(F.col(f"t{i}")).cast("long").alias(f"n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step"),
                F.lit(name).alias("step_name"),
                F.col(f"n{i}").alias("n_users"),
                (F.col(f"n{i}").cast("double") / F.col("n1").cast("double")).alias(
                    "pct_of_step1"
                ),
            )
            for i, name in enumerate(steps, start=1)
        ]
    )
    return counts.select(F.explode(entries).alias("r")).select("r.*")


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 7 * 86_400,
) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-activity
    period, counted in every later period they return.

    Returns (cohort, period_offset, n_users): ``cohort`` is the user's
    first-activity period index (floor(epoch_micros / period_micros) —
    the single double division is the same IEEE op in both engines, so
    the oracle replays it bit-for-bit), ``period_offset`` >= 0 the
    distance of each active period from it. Two aggregations and one
    join — the first-activity frame is (user, cohort) only; activity is
    deduplicated to (user, period) BEFORE the join so the joined frame
    is bounded by user-periods, not events.
    """
    period = F.floor(
        F.unix_micros(F.col(ts_col)) / F.lit(float(period_s) * 1_000_000.0)
    ).cast("long")
    active = (
        events.select(F.col(user_col).alias("user"), period.alias("period"))
        .distinct()
    )
    first = active.groupBy("user").agg(F.min("period").alias("cohort"))
    return (
        active.join(first, "user")
        .groupBy("cohort", (F.col("period") - F.col("cohort")).alias("period_offset"))
        .agg(F.countDistinct("user").cast("long").alias("n_users"))
    )
