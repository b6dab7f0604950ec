"""Continuous hourly rollup (operators/rollup.py): merge-read
transparency, cold hours served verbatim, and the pushed-down hot-side
scan."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from token_etl_spark.io.sources import load_table
from token_etl_spark.operators.rollup import hourly_rollup, rollup_merge_read

CUT = 1_705_795_200  # 2024-01-21 00:00 UTC


def _rows(df):
    return sorted(
        (r["hour_ts"], r["event_type"], r["n_events"], round(r["sum_value"], 6),
         r["min_value"], r["max_value"])
        for r in df.collect()
    )


def test_refresh_does_not_touch_cold_hours(spark, sf_dir):
    """Rows before the cutoff pass through the merge-read verbatim —
    even if the materialized values were (deliberately) corrupted, the
    merge-read must not recompute them."""
    ev = load_table(spark, sf_dir, "events")
    rollup = hourly_rollup(ev)
    poisoned = rollup.withColumn(
        "n_events",
        F.when(F.col("hour_ts") < CUT, F.lit(-1).cast("long")).otherwise(
            F.col("n_events")
        ),
    )
    refreshed = rollup_merge_read(poisoned, ev, CUT)
    cold = refreshed.where(F.col("hour_ts") < CUT)
    assert cold.count() > 0
    assert cold.where(F.col("n_events") != -1).count() == 0


def test_merge_read_is_result_transparent(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rollup = hourly_rollup(ev.where(F.col("ts") < F.timestamp_seconds(F.lit(CUT))))
    served = rollup_merge_read(rollup, ev, CUT)
    assert _rows(served) == _rows(hourly_rollup(ev))


def test_hot_side_filter_reaches_the_scan(spark, sf_dir):
    """The raw-tail predicate must appear in PushedFilters — a function-
    of-column comparison would silently full-scan at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    hot = ev.where(F.col("ts") >= F.timestamp_seconds(F.lit(CUT)))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hourly_rollup(hot).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ts" in plan


def test_alignment_guard(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rollup = hourly_rollup(ev)
    with pytest.raises(ValueError):
        rollup_merge_read(rollup, ev, CUT + 7)


def test_hll_rollup_merge_law(spark, sf_dir):
    """Element-wise max of shard register arrays == single-pass
    registers of the whole — the property the oracle's one-pass replay
    of the declared shard-merge query rests on."""
    from token_etl_spark.operators.rollup import hourly_rollup_hll, merge_hll_rollups

    ev = load_table(spark, sf_dir, "events")
    a = hourly_rollup_hll(ev.where(F.col("user_id") % 2 == 0))
    b = hourly_rollup_hll(ev.where(F.col("user_id") % 2 == 1))
    merged = {
        (r["hour_ts"], r["event_type"]): tuple(r["hll_regs"])
        for r in merge_hll_rollups(a, b).collect()
    }
    whole = {
        (r["hour_ts"], r["event_type"]): tuple(r["hll_regs"])
        for r in hourly_rollup_hll(ev).collect()
    }
    assert merged == whole


def test_hll_rollup_estimates_track_exact(spark, sf_dir):
    """Per-(hour, type) distinct counts here are far below m, so the
    linear-counting branch serves every cell — estimates must track the
    exact count tightly (the raw harmonic estimator was ~185x off at
    n=1; the correction exists exactly for this regime)."""
    from token_etl_spark.operators.rollup import (
        hll_estimate_from_regs,
        hourly_rollup_hll,
    )
    from token_etl_spark.functions.timeops import hour_bucket

    ev = load_table(spark, sf_dir, "events")
    regs = hourly_rollup_hll(ev)
    exact = ev.groupBy(
        hour_bucket(F.unix_timestamp(F.col("ts"))).alias("hour_ts"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact"))
    joined = regs.join(exact, ["hour_ts", "event_type"]).select(
        "exact", hll_estimate_from_regs("hll_regs").alias("est")
    )
    rows = joined.collect()
    assert rows
    for r in rows:
        assert abs(r["est"] - r["exact"]) <= max(2.0, 0.15 * r["exact"]), r
    total_exact = sum(r["exact"] for r in rows)
    total_est = sum(r["est"] for r in rows)
    assert abs(total_est - total_exact) / total_exact < 0.05


def test_hll_densify_is_ansi_safe(spark, sf_dir):
    """The register densify builds no out-of-range array index, so it
    runs under ANSI mode and yields, with ANSI on or off, exactly the
    dense form of the sparse (bucket, m_j) registers: m_j at its bucket,
    0 elsewhere."""
    from token_etl_spark.functions.timeops import hour_bucket
    from token_etl_spark.operators.rollup import hourly_rollup_hll
    from token_etl_spark.operators.sketch import hll_registers

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 7 == 0)
    base = ev.select(
        hour_bucket(F.unix_timestamp("ts")).alias("hour_ts"), "event_type", "user_id"
    )
    expected = {}
    for r in hll_registers(base, "user_id", ("hour_ts", "event_type"), m=256).collect():
        regs = expected.setdefault((r["hour_ts"], r["event_type"]), [0] * 256)
        regs[r["bucket"]] = r["m_j"]
    assert expected

    before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = {
                (r["hour_ts"], r["event_type"]): list(r["hll_regs"])
                for r in hourly_rollup_hll(ev).collect()
            }
            assert got == expected, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
