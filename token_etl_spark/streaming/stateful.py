"""Stateful streaming: running balances as a streaming computation
(SURVEY §7.2 "genuinely stateful").

Batch recomputation (``operators/balances.wallet_hour_balances``)
matches the reference's actual behavior; this module is the
streaming-native variant: per-key
running totals carried in Spark state via ``applyInPandasWithState`` —
each micro-batch folds its rows into the persisted per-user balance, so
the cumulative series never recomputes history.

State size: one float per (user) key — bounded by key cardinality, not
stream length. A production deployment adds a state TTL via the
``GroupStateTimeout`` argument when keys churn.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from token_etl_spark.streaming.dedup import _drain

OUTPUT_SCHEMA = "user_id bigint, ts_sec bigint, balance double"
STATE_SCHEMA = "balance double"


def _update_balances(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    balance = state.get[0] if state.exists else 0.0
    rows = pd.concat(list(pdfs)).sort_values("ts_sec", kind="mergesort")
    # cumsum over [carried_balance, v1, v2, ...] performs the identical
    # left-to-right float additions as the per-row fold it replaced
    # (((balance + v1) + v2) + ...), just vectorized — bit-identical
    # output, no iterrows
    acc = pd.concat(
        [pd.Series([balance]), rows["signed_value"].astype("float64")],
        ignore_index=True,
    ).cumsum()
    bal = acc.iloc[1:].reset_index(drop=True)
    state.update((float(acc.iloc[-1]),))
    yield pd.DataFrame(
        {
            "user_id": user_id,
            "ts_sec": rows["ts_sec"].astype("int64").reset_index(drop=True),
            "balance": bal,
        }
    )


def streaming_running_balance(events_stream: DataFrame) -> DataFrame:
    """events stream (ts, user_id, event_type, value) → per-event running
    balance with purchase-as-outflow sign convention.

    NOTE: within one micro-batch rows are folded in event-time order;
    across micro-batches order is arrival order (standard streaming
    semantics — late data would need watermark + event-time state).
    """
    signed = events_stream.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_sec"),
        F.when(F.col("event_type") == "purchase", -F.col("value"))
        .otherwise(F.col("value"))
        .alias("signed_value"),
    )
    return signed.groupBy("user_id").applyInPandasWithState(
        _update_balances,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT_SCHEMA = "user_id bigint, ts_sec bigint, value double, ewma double"
EWMA_STATE_SCHEMA = "ewma double, initialized boolean"


def _make_ewma_updater(alpha: float):
    def _update_ewma(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            ewma, initialized = state.get
        else:
            ewma, initialized = 0.0, False
        # stable sort, matching the batch twin's mergesort: ties on
        # ts_sec must fold in input order on BOTH sides or the carried
        # state diverges on every later batch
        rows = pd.concat(list(pdfs)).sort_values("ts_sec", kind="mergesort")
        vals = rows["value"].astype("float64").reset_index(drop=True)
        if vals.empty:
            state.update((ewma, initialized))
            yield pd.DataFrame(
                columns=["user_id", "ts_sec", "value", "ewma"]
            )
            return
        # the same vectorized adjust=False recurrence the batch twin runs
        # (operators/timeseries.grouped_ewma) — seeded by prepending the
        # carried state as a virtual row 0 (y_0 = carry, then
        # y_t = alpha*x_t + (1-alpha)*y_{t-1}), dropped after the ewm
        if initialized:
            seeded = pd.concat([pd.Series([ewma]), vals], ignore_index=True)
            series = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:]
        else:
            series = vals.ewm(alpha=alpha, adjust=False).mean()
        series = series.reset_index(drop=True)
        state.update((float(series.iloc[-1]), True))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "ts_sec": rows["ts_sec"].astype("int64").reset_index(drop=True),
                "value": vals,
                "ewma": series,
            }
        )

    return _update_ewma


def streaming_ewma(events_stream: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming twin of ``operators/timeseries.grouped_ewma`` (ROADMAP):
    the adjust=False recurrence carried across micro-batches in per-key
    state — one (double, bool) per user, so state is bounded by key
    cardinality. Within a micro-batch rows fold in event-time order;
    across batches the carry value continues exactly where the last batch
    ended, which equals the batch recurrence whenever arrival order
    respects event time (tested against grouped_ewma on a replayed
    stream)."""
    shaped = events_stream.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_sec"),
        F.col("value").cast("double").alias("value"),
    )
    return shaped.groupBy("user_id").applyInPandasWithState(
        _make_ewma_updater(alpha),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _funnel_schemas(k: int) -> tuple[str, str]:
    ts_cols = ", ".join(f"t{i} bigint" for i in range(1, k + 1))
    return (f"user bigint, n_events bigint, {ts_cols}", f"n_events bigint, {ts_cols}")


def streaming_funnel_reach(
    events_stream: DataFrame,
    steps: list[str],
    window_s: int = 86_400,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of ``operators/funnel.py funnel_reach``: per-user
    anchored-first funnel progress carried in Spark state — one
    (n_events, t1..tk) tuple of longs per user, so state is bounded by
    user cardinality FOREVER, regardless of stream length or step count
    blowups (the batch operator's per-stage frames become k fixed state
    slots).

    The batch anchored-first semantics IS a single event-time-ordered
    greedy fold (anchor t1 at the first step-1 event; take the earliest
    qualifying event per later step inside t1's window), so this
    operator folds each micro-batch in event-time order on top of the
    persisted slots. Equivalence with the batch operator holds whenever
    arrival order respects event time across batches (pinned in
    tests/test_streaming_stateful.py on a time-split replay); a step-1
    event arriving AFTER a later one anchored the funnel does not
    re-anchor, and an earlier qualifying step-i event arriving late
    does not replace a taken slot — the standard streaming trade, same
    caveat as ``streaming_running_balance``, pinned as a CONTRACT (not
    just this comment) by the out-of-order boundary test in
    tests/test_streaming_stateful.py. Emits one progress row per user
    per micro-batch (outputMode update); unreached steps are NULL.
    """
    k = len(steps)
    out_schema, state_schema = _funnel_schemas(k)
    window_us = window_s * 1_000_000
    step_idx = {s: i for i, s in enumerate(steps)}
    shaped = events_stream.select(
        F.col(user_col).cast("long").alias("user"),
        F.unix_micros(F.col(ts_col)).alias("tm"),
        F.col(type_col).alias("typ"),
    ).where(F.col("typ").isin(list(steps)))

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            st = list(state.get)
        else:
            st = [0] + [-1] * k
        n, t = st[0], st[1:]
        rows = pd.concat(list(pdfs)).sort_values("tm", kind="stable")
        for typ, tm in zip(rows["typ"], rows["tm"]):
            n += 1
            tm = int(tm)
            i = step_idx[typ]
            if i == 0:
                if t[0] < 0:
                    t[0] = tm
            elif t[i] < 0 and t[i - 1] >= 0 and tm > t[i - 1] and tm <= t[0] + window_us:
                t[i] = tm
        state.update(tuple([n] + t))
        yield pd.DataFrame(
            [[user, n] + t],
            columns=["user", "n_events"] + [f"t{i}" for i in range(1, k + 1)],
        )

    progress = shaped.groupBy("user").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # -1 is the in-state "unreached" sentinel (state slots are
    # non-nullable longs); surface NULL like the batch operator
    return progress.select(
        "user",
        "n_events",
        *[
            F.when(F.col(f"t{i}") >= 0, F.col(f"t{i}")).alias(f"t{i}")
            for i in range(1, k + 1)
        ],
    )


def merge_retention_state(
    batch_df: DataFrame,
    state_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 7 * 86_400,
) -> None:
    """Merge one micro-batch's activity into the retention state table:
    the DISTINCT (user, period) pairs seen so far — exactly the batch
    operator's ``active`` frame, so any retention question asked of the
    state equals the batch answer over the concatenated input (no
    approximation, no ordering sensitivity: the state is a set union).
    State is bounded by user-periods (users × observed periods), not
    events; the rewrite commits through the whole-tree swap
    (``io.sinks._full_swap``), like ``merge_kmv_state``, so a crash
    never clobbers the previous state and the next merge heals an
    interrupted swap before reading."""
    from token_etl_spark.io.sinks import _full_swap, _heal_full_swap, _read_existing

    spark = batch_df.sparkSession
    _heal_full_swap(spark, state_path)
    period = F.floor(
        F.unix_micros(F.col(ts_col)) / F.lit(float(period_s) * 1_000_000.0)
    ).cast("long")
    batch_pairs = batch_df.select(
        F.col(user_col).alias("user"), period.alias("period")
    ).distinct()
    prev = _read_existing(spark, state_path)
    merged = (
        batch_pairs
        if prev is None
        else prev.select("user", "period").unionByName(batch_pairs).distinct()
    )
    _full_swap(spark, state_path, {"": merged.write.parquet})


def run_streaming_retention(
    stream: DataFrame,
    state_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 7 * 86_400,
) -> None:
    """Streaming twin of ``operators/funnel.py retention_cohorts``: a
    foreachBatch merge of distinct (user, period) activity into a keyed
    parquet state table. Read the triangle at any time with
    :func:`retention_from_state` — because the state IS the batch
    operator's deduplicated activity frame, the streamed triangle is
    bit-identical to the batch one over the same events, in any arrival
    order (set-union state has no order sensitivity, unlike the funnel's
    anchored fold). Completes the event-analytics streaming story:
    funnel (ordered, stateful fold) + retention (unordered, mergeable
    set)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_retention_state(batch_df, state_path, user_col, ts_col, period_s)

    _drain(stream, _sink)


def retention_from_state(spark, state_path: str) -> DataFrame:
    """(cohort, period_offset, n_users) from a ``run_streaming_retention``
    state table — the same two aggregations the batch operator runs on
    its deduplicated activity frame. Reads an interrupted merge swap's
    marked staging in place (``io.sinks._committed_tree``)."""
    from token_etl_spark.io.sinks import _committed_tree

    active = spark.read.parquet(_committed_tree(spark, state_path))
    first = active.groupBy("user").agg(F.min("period").alias("cohort"))
    return (
        active.join(first, "user")
        .groupBy(
            "cohort", (F.col("period") - F.col("cohort")).alias("period_offset")
        )
        .agg(F.countDistinct("user").cast("long").alias("n_users"))
    )
