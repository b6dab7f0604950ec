"""Holder / whale flag operators (SURVEY §2.2 P7, §2.4 A2, §2.10 F5).

Reference semantics:
- holder flag (BaseEnricher.scala:141-155): a wallet is a holder at a
  timestamp when ``balance > threshold`` OR (``pre_balance > threshold``
  AND ``balance IS NULL``) — the boolean-combination predicate P7. The
  holder *count* per timestamp (A2, :156-160) is computed by
  ``pipelines/tokens.enhance_tokens``.
- whale flag (WalletEnricher.scala:23-25, F5): closure-captured
  ``balance >= circulatingSupply * threshold`` — here a plain native
  comparison against a broadcast-joined per-token threshold column (no
  UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def holder_flag(balance: Column, pre_balance: Column, threshold: float = 0.0) -> Column:
    """P7 boolean combination, exactly the reference's shape."""
    return F.when(
        (balance > threshold) | ((pre_balance > threshold) & balance.isNull()),
        F.lit(True),
    ).otherwise(F.lit(False))


def with_whale_flag(
    balances: DataFrame,
    token_metadata: DataFrame,
    contract_col: str = "contract_address",
) -> DataFrame:
    """Per-token whale flag via broadcast-joined metadata dimension.

    Replaces the reference's driver-side REST fetch + closure UDF
    (WalletEnricher.scala:62-63,23-25): the (tiny) token-metadata dim is
    broadcast, so no shuffle of the balance table.
    """
    dim = F.broadcast(
        token_metadata.select(
            F.col("contract_address").alias(contract_col),
            "circulating_supply",
            "whale_threshold",
        )
    )
    joined = balances.join(dim, contract_col, "left")
    return joined.withColumn(
        "isWhale",
        F.coalesce(
            F.col("balance") >= F.col("circulating_supply") * F.col("whale_threshold"),
            F.lit(False),
        ),
    ).drop("circulating_supply", "whale_threshold")
