"""Wallet-cluster operators (SURVEY §2.4 A9/A10).

The reference tags each wallet LOW/MEDIUM/HIGH by balance band and
pivots the tags per timestamp (BaseEnricher.scala:412-435). The other
per-token activity metrics of BaseEnricher.scala (A3-A8: transaction
counts, the avg-tx-per-day quirk, volume, distinct wallets, dapp
rollups) are computed by ``pipelines/tokens.enhance_tokens`` and
``pipelines/dapps_pipeline.enrich_dapps``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wallet_cluster(balance_col: str = "balance", low: float = 1000.0, high: float = 100000.0):
    """Cluster tag LOW/MEDIUM/HIGH by balance bands (BaseEnricher.
    scala:412-423 shape: when/otherwise ladder)."""
    c = F.col(balance_col)
    return (
        F.when(c < low, F.lit("LOW"))
        .when(c < high, F.lit("MEDIUM"))
        .otherwise(F.lit("HIGH"))
    )


def wallet_cluster_pivot(df: DataFrame, ts_col: str = "timestamp", cluster_col: str = "walletCluster") -> DataFrame:
    """A9/A10: pivot on cluster ∈ {LOW,MEDIUM,HIGH} with first(address).

    Explicit pivot values (skips Spark's extra distinct job — one fewer
    scan; BaseEnricher.scala:430-435). first() is order-sensitive, so the
    engine's canonical form aggregates min(address) instead — same
    capability, deterministic cell.
    """
    return (
        df.groupBy(ts_col)
        .pivot(cluster_col, ["LOW", "MEDIUM", "HIGH"])
        .agg(F.min("address"))
    )
