"""Wallet enricher — per-(token, wallet) balance/whale changelog
(reference: src/main/scala/etl/WalletEnricher.scala).

Reference shape (per token, driver loop): AQL time/contract scan →
calculateBalance (hour bucket, signed unpivot, agg, cumsum window) →
whale UDF with REST-fetched supply → crossJoin scaffold densification →
left-outer join → per-address map collapse → `{token}_{wallet}` keys.

Spark-native shape: single pass over ALL tokens (the driver loop form
remains available by filtering) through the balance stage the token
enricher shares (``operators/balances.wallet_hour_balances``) and the
sorted A11 map collapse (``functions/timeops.changelog``). The whale
flag compares the balance with the broadcast metadata dim's threshold
(``operators/holders.with_whale_flag`` for the sparse map, in-row for
the dense one); densification builds each wallet's dense map in-row from
the token's broadcast hour array instead of joining a wallet × hour
scaffold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from token_etl_spark.functions.keys import composite_key, strip_collection_prefix
from token_etl_spark.functions.timeops import changelog, hour_bucket
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
        docs = _dense_changelogs(transfers, balances, token_metadata)
    else:
        docs = (
            with_whale_flag(balances, token_metadata)
            .groupBy("contract_address", "address")
            .agg(changelog("hour_ts", F.struct("isWhale", "balance"), "balanceChangeLogs"))
        )
    return (
        docs.withColumn("address", strip_collection_prefix("address"))
        .withColumn("_key", composite_key("contract_address", "address"))
        .select("_key", "address", "balanceChangeLogs")
    )


def _dense_changelogs(
    transfers: DataFrame, balances: DataFrame, token_metadata: DataFrame
) -> DataFrame:
    """Densified changelogs: every hour of the token from the wallet's
    first balance on, carrying the last balance forward (the reference's
    crossJoin scaffold + left-outer join, WalletEnricher.scala:27-37).

    Each token's sorted distinct hours are broadcast with its whale
    threshold, and each balance row carries its index in that array
    (a broadcast (token, hour) → index lookup). One group per (token,
    wallet), on the balance stage's own exchange, collects the sorted
    entries; entry i then covers ``hours[idx_i : idx_{i+1}]`` (the array's
    end for the last entry), taken with ``slice``. Work per wallet is
    linear in its dense output; no wallet × hour scaffold is joined."""
    # straight from the transfers: the balance stage's (token, wallet)
    # exchange moves two rows per transfer, and the hours need none of it
    hour = hour_bucket(F.col("transact_at").cast("long"))
    hours = transfers.groupBy("contract_address").agg(
        F.sort_array(F.collect_set(hour)).alias("hours")
    )
    hour_index = hours.select(
        "contract_address", F.posexplode("hours").alias("idx", "hour_ts")
    )
    tokens = hours.join(
        token_metadata.select(
            "contract_address",
            (F.col("circulating_supply") * F.col("whale_threshold")).alias("whale_at"),
        ),
        "contract_address",
        "left",
    )
    # a null balance (only null values so far) is never carried: the
    # wallet's map starts at its first non-null balance
    entries = (
        balances.where(F.col("balance").isNotNull())
        .join(F.broadcast(hour_index), ["contract_address", "hour_ts"])
        .groupBy("contract_address", "address")
        .agg(F.sort_array(F.collect_list(F.struct("hour_ts", "idx", "balance"))).alias("e"))
        .join(F.broadcast(tokens), "contract_address")
    )

    def carried(entry: Column, i: Column) -> Column:
        # entry i's (hour → {isWhale, balance}) pairs: the token's hours
        # from the entry's own up to the next entry's (ANSI-safe: `get`
        # past the end is null, so the last entry runs to the array's end)
        end = F.coalesce(F.get("e", i + 1)["idx"], F.size("hours"))
        value = F.struct(
            F.coalesce(entry["balance"] >= F.col("whale_at"), F.lit(False)).alias("isWhale"),
            entry["balance"].alias("balance"),
        )
        return F.transform(
            F.slice("hours", entry["idx"] + 1, end - entry["idx"]),
            lambda h: F.struct(h.alias("ts"), value.alias("value")),
        )

    return entries.select(
        "contract_address",
        "address",
        F.map_from_entries(F.flatten(F.transform("e", carried))).alias("balanceChangeLogs"),
    )
