"""Wallet enricher — per-(token, wallet) balance/whale changelog
(reference: src/main/scala/etl/WalletEnricher.scala).

Reference shape (per token, driver loop): AQL time/contract scan →
calculateBalance (hour bucket, signed unpivot, agg, cumsum window) →
whale UDF with REST-fetched supply → crossJoin scaffold densification →
left-outer join → per-address map collapse → `{token}_{wallet}` keys.

Spark-native shape: single pass over ALL tokens (the driver loop form
remains available by filtering) through the balance stage the token
enricher shares (``operators/balances.wallet_hour_balances``), whale
flag via the broadcast metadata dim (``operators/holders.
with_whale_flag``), densification by a window forward-fill over a
per-token (wallet × hour) scaffold instead of re-joining balances, and
the sorted A11 map collapse (``functions/timeops.changelog``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.functions.keys import composite_key, strip_collection_prefix
from token_etl_spark.functions.timeops import changelog
from token_etl_spark.operators.balances import wallet_hour_balances
from token_etl_spark.operators.holders import with_whale_flag


def wallet_balance_changelogs(
    transfers: DataFrame,
    token_metadata: DataFrame,
    densify: bool = True,
) -> DataFrame:
    """transfers (all tokens) → TOKEN_WALLETS rows.

    Output: ``_key`` = "{token}_{wallet}", ``address``,
    ``balanceChangeLogs``: Map<hour_ts → {isWhale, balance}>. A transfer
    without a timestamp raises an error naming this pipeline and
    ``transact_at``.
    """
    balances = wallet_hour_balances(transfers, "wallet_balance_changelogs")

    if densify:
        # Forward-fill densification replacing the reference's
        # crossJoin+left-outer scaffold (WalletEnricher.scala:27-37; J4→
        # window fill per SURVEY §7.2 "scale traps").
        ts_dim = balances.select("contract_address", "hour_ts").distinct()
        keys = balances.select("contract_address", "address").distinct()
        scaffold = keys.join(ts_dim, "contract_address")
        joined = scaffold.join(
            balances, ["contract_address", "address", "hour_ts"], "left_outer"
        )
        w_fill = (
            Window.partitionBy("contract_address", "address")
            .orderBy("hour_ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        balances = joined.withColumn(
            "balance", F.last("balance", ignorenulls=True).over(w_fill)
        ).filter(F.col("balance").isNotNull())

    return (
        with_whale_flag(balances, token_metadata)
        .groupBy("contract_address", "address")
        .agg(changelog("hour_ts", F.struct("isWhale", "balance"), "balanceChangeLogs"))
        .withColumn("address", strip_collection_prefix("address"))
        .withColumn("_key", composite_key("contract_address", "address"))
        .select("_key", "address", "balanceChangeLogs")
    )
