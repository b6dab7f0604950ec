"""Wallet enricher — per-(token, wallet) balance/whale changelog
(reference: src/main/scala/etl/WalletEnricher.scala).

Reference shape (per token, driver loop): AQL time/contract scan →
calculateBalance (hour bucket, signed unpivot, agg, cumsum window) →
whale UDF with REST-fetched supply → crossJoin scaffold densification →
left-outer join → per-address map collapse → `{token}_{wallet}` keys.

Spark-native shape: single pass over ALL tokens (groupBy contract keeps
one shuffle; the driver loop form remains available by filtering), whale
flag via broadcast metadata dim, densification via the forward-fill
operator (window fill instead of re-joining balances), deterministic
sorted map collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.functions.keys import composite_key, strip_collection_prefix
from token_etl_spark.functions.timeops import hour_bucket, require_timestamp


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
    base = transfers.select(
        "contract_address",
        hour_bucket(
            require_timestamp(F.col("transact_at").cast("long"), "wallet_balance_changelogs")
        ).alias("timestamp"),
        F.col("_from"),
        F.col("_to"),
        "value",
    )
    pair = F.array(
        F.struct(F.col("_from").alias("address"), (-F.col("value")).alias("signed_value")),
        F.struct(F.col("_to").alias("address"), F.col("value").alias("signed_value")),
    )
    flows = (
        base.withColumn("_e", F.explode(pair))
        .select(
            "contract_address",
            "timestamp",
            F.col("_e.address").alias("address"),
            F.col("_e.signed_value").alias("signed_value"),
        )
        .groupBy("contract_address", "address", "timestamp")
        .agg(F.sum("signed_value").alias("hourly_balance"))
    )
    w_cum = (
        Window.partitionBy("contract_address", "address")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    balances = flows.withColumn("balance", F.sum("hourly_balance").over(w_cum)).drop(
        "hourly_balance"
    )

    if densify:
        # Forward-fill densification replacing the reference's
        # crossJoin+left-outer scaffold (WalletEnricher.scala:27-37; J4→
        # window fill per SURVEY §7.2 "scale traps").
        ts_dim = balances.select("contract_address", "timestamp").distinct()
        keys = balances.select("contract_address", "address").distinct()
        scaffold = keys.join(ts_dim, "contract_address")
        joined = scaffold.join(
            balances, ["contract_address", "address", "timestamp"], "left_outer"
        )
        w_fill = (
            Window.partitionBy("contract_address", "address")
            .orderBy("timestamp")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        balances = joined.withColumn(
            "balance", F.last("balance", ignorenulls=True).over(w_fill)
        ).filter(F.col("balance").isNotNull())

    dim = F.broadcast(
        token_metadata.select("contract_address", "circulating_supply", "whale_threshold")
    )
    flagged = balances.join(dim, "contract_address", "left").withColumn(
        "isWhale",
        F.coalesce(
            F.col("balance") >= F.col("circulating_supply") * F.col("whale_threshold"),
            F.lit(False),
        ),
    )

    bare_address = strip_collection_prefix("address")
    return (
        flagged.groupBy("contract_address", "address")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("timestamp").alias("ts"),
                            F.struct(
                                F.col("isWhale").alias("isWhale"),
                                F.col("balance").alias("balance"),
                            ).alias("value"),
                        )
                    )
                )
            ).alias("balanceChangeLogs")
        )
        .withColumn("address", bare_address)
        .withColumn("_key", composite_key("contract_address", "address"))
        .select("_key", "address", "balanceChangeLogs")
    )
