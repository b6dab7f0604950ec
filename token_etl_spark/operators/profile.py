"""Table profiling: SUMMARIZE-style per-column statistics in one pass.

An engine that curates 100 TB corpora needs cheap observability — null
rates, cardinalities and value ranges per column — to catch schema
drift and degenerate partitions before they poison a training run. This
is DuckDB's SUMMARIZE / Deequ's profiler re-expressed as a single Spark
aggregate.

Plan shape: ONE aggregation over the table computes every column's
(non-null count, distinct count, min, max) simultaneously — Catalyst
plans the multi-distinct via Expand, so the table is scanned once — and
a ``stack`` pivots the 1-row result to one row per column. Nothing
driver-side; the profile is itself a DataFrame. Distinct counts are
exact ``countDistinct``, which the DuckDB oracle replays; an HLL
``approx_count_distinct`` would merge map-side and drop the Expand
blowup, but no caller needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row per column: ``col_name, n_rows, n_nulls, n_distinct,
    min_val, max_val`` (min/max cast to string so heterogeneous column
    types share one schema).
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _total - _nn_{c}, _nd_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return one.selectExpr(
        "_total AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct, min_val, max_val)",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


# ---------------------------------------------------------------------------
# constraint validation (Deequ-style unit tests for data)


def check_completeness(col: str, min_ratio: float = 1.0) -> dict:
    """Fraction of non-null values in ``col`` must reach ``min_ratio``."""
    return {"check": "completeness", "column": col, "threshold": min_ratio}


def check_uniqueness(col: str, min_ratio: float = 1.0) -> dict:
    """distinct/total ratio for ``col`` must reach ``min_ratio`` (1.0 =
    primary-key property)."""
    return {"check": "uniqueness", "column": col, "threshold": min_ratio}


def check_min(col: str, bound: float) -> dict:
    """min(col) must be >= bound."""
    return {"check": "min_bound", "column": col, "threshold": bound}


def check_max(col: str, bound: float) -> dict:
    """max(col) must be <= bound."""
    return {"check": "max_bound", "column": col, "threshold": bound}


def check_values_in(col: str, allowed: tuple, min_ratio: float = 1.0) -> dict:
    """Fraction of rows whose ``col`` is in ``allowed`` must reach
    ``min_ratio`` (nulls count as violations)."""
    return {
        "check": "values_in",
        "column": col,
        "threshold": min_ratio,
        "allowed": tuple(allowed),
    }


def check_row_count(min_rows: int) -> dict:
    """Table must have at least ``min_rows`` rows."""
    return {"check": "row_count", "column": "*", "threshold": float(min_rows)}


def validate(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Deequ-style constraint validation ("unit tests for data",
    Schelter et al. 2018, "Automating large-scale data quality
    verification", PVLDB 11(12)) in ONE aggregation pass: every check's
    metric is an aggregate expression over the same scan, the 1-row
    result is stacked to (check, column, metric, threshold, passed) —
    the gate a 100 TB ingest runs before anything downstream trusts the
    batch. All ratios divide exact integer counts once (deterministic,
    oracle-replayable); no driver-side logic beyond assembling the plan.
    """
    aggs = [F.count(F.lit(1)).alias("_total")]
    metric_exprs: list[tuple[dict, str]] = []
    for i, ck in enumerate(checks):
        c, kind = ck["column"], ck["check"]
        name = f"_m{i}"
        if kind == "completeness":
            aggs.append(
                (F.count(c).cast("double") / F.count(F.lit(1)).cast("double")).alias(name)
            )
        elif kind == "uniqueness":
            aggs.append(
                (
                    F.countDistinct(c).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias(name)
            )
        elif kind == "min_bound":
            aggs.append(F.min(c).cast("double").alias(name))
        elif kind == "max_bound":
            aggs.append(F.max(c).cast("double").alias(name))
        elif kind == "values_in":
            hit = F.when(F.col(c).isin(*ck["allowed"]), 1).otherwise(0)
            aggs.append(
                (F.sum(hit).cast("double") / F.count(F.lit(1)).cast("double")).alias(name)
            )
        elif kind == "row_count":
            aggs.append(F.count(F.lit(1)).cast("double").alias(name))
        else:
            raise ValueError(f"unknown check kind {kind!r}")
        metric_exprs.append((ck, name))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{ck['check']}', '{ck['column']}', round({name}, 6),"
        f" CAST({ck['threshold']!r} AS DOUBLE),"
        f" round({name}, 6) {'<=' if ck['check'] == 'max_bound' else '>='}"
        f" CAST({ck['threshold']!r} AS DOUBLE)"
        for ck, name in metric_exprs
    )
    return one.selectExpr(
        f"stack({len(metric_exprs)}, {stack_args})"
        " AS (check_name, col_name, metric, threshold, passed)"
    )


def zscore_stats(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group (mean, sample std, count) — the fit side of the z-score
    screen, shared by batch ``zscore_outliers`` and the streaming
    flag-at-ingest twin (``streaming/curation.streaming_zscore_flag``).
    One combinable aggregation; the result is |groups| rows."""
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.avg(v).alias("_mu"),
        F.stddev_samp(v).alias("_sd"),
        F.count(v).alias("_n"),
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score anomaly detection: flag rows whose ``value_col``
    deviates more than ``threshold`` sample standard deviations from
    their group's mean — the standard screen for corrupted ingest
    batches, unit-mismatch feeds, and metric regressions, grouped by
    whatever dimension the feed partitions on.

    Plan shape (the 100 TB design): ONE combinable aggregation computes
    per-group (mean, stddev_samp, n) — partial-aggregated map-side, so
    the shuffle carries |groups| rows, not data — and the tiny stats
    frame joins back broadcast. No window: a window over the fact table
    would shuffle and SORT every row by group for two scalars per group.

    Degenerate groups are honest: ``stddev_samp`` is NULL for n=1 and
    0.0 for constant groups; both yield ``z`` NULL and ``is_outlier``
    false (no division by zero, nothing flagged in a group with no
    dispersion).

    Float caveat (shared with every distributed mean/variance in this
    repo): partial-aggregate accumulation order makes the last ~2 ulps
    of mean/std run-dependent; consumers compare z rounded (the declared
    query rounds to 6dp), never bit-exact.
    """
    v = F.col(value_col)
    stats = zscore_stats(df, value_col, group_cols)
    z = F.when(F.col("_sd") > 0, (v - F.col("_mu")) / F.col("_sd"))
    return (
        df.join(F.broadcast(stats), group_cols, "left")
        .withColumn("z", z)
        .withColumn("is_outlier", F.coalesce(F.abs(F.col("z")) > threshold, F.lit(False)))
        .drop("_mu", "_sd", "_n")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust per-group outlier screen via the modified z-score
    (Iglewicz & Hoaglin 1993): ``robust_z = (x - median) /
    (consistency * MAD)`` with MAD the median absolute deviation and
    ``consistency = 1.4826`` the normal-consistency factor. Unlike
    ``zscore_outliers``, one huge anomaly cannot mask others by
    inflating the group's own std — the screen heavy-tailed ingest
    actually needs.

    Plan shape: two grouped percentile aggregations (median, then MAD
    over the median-joined frame), each broadcast-joined back; no
    fact-table window. Exact ``percentile`` is an order statistic —
    deterministic, no accumulation-order caveat, and replayed by the
    DuckDB oracle — but it buffers each group's values on its reducer.

    Degenerate groups are honest: MAD = 0 (over half the group at one
    value) or a 1-row group yields robust_z NULL and is_outlier false.
    """
    v = F.col(value_col)
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5D)").alias("_med")
    )
    with_med = df.join(F.broadcast(med), group_cols, "left")
    mad = (
        with_med.withColumn("_adev", F.abs(v - F.col("_med")))
        .groupBy(*group_cols)
        .agg(F.expr("percentile(_adev, 0.5D)").alias("_mad"))
    )
    z = F.when(
        F.col("_mad") > 0, (v - F.col("_med")) / (F.lit(consistency) * F.col("_mad"))
    )
    return (
        with_med.join(F.broadcast(mad), group_cols, "left")
        .withColumn("robust_z", z)
        .withColumn(
            "is_outlier", F.coalesce(F.abs(F.col("robust_z")) > threshold, F.lit(False))
        )
        .drop("_med", "_mad")
    )
