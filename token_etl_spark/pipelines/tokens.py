"""Token enricher — per-token metric-document assembly
(reference: src/main/scala/etl/EnhanceTokenEnricher.scala).

Reference shape: driver loop over 3 hard-coded tokens; per token, an
AQL-filtered scan feeds NINE metric sub-plans (token info, tx-count /
volume / unique-address / dapp / holder / whale changelogs, avg-tx/day,
wallet-cluster pivot), each collapsed to one row, zipped by a reduce-join
on monotonically_increasing_id (J6), unioned across tokens, written as
one document per token.

Spark-native shape: ONE pass over all tokens — the per-token driver loop
becomes the grouping key, and the transfers are scanned once (SURVEY §4
"scan reuse") into a stack of aggregates, each computed from the one
below it:

1. per (token, wallet, hour): net flow, transfers sent, value received —
   and, over a running-sum window, the wallet's balance after the hour
   (``operators/balances.wallet_hour_balances``, the wallet pipeline's
   stage too);
2. per (token, hour): tx count, volume, unique wallets, holders, whales
   and dapps touched;
3. per token: every changelog map, the daily one included, in one
   aggregate.

Only the broadcast dimensions are joined, so a token keeps its document
whichever metric is empty for it (a token no dapp touched gets an empty
``dappChanges`` map). Tokens without metadata get no document, as in the
reference's loop over known tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.functions.keys import strip_collection_prefix
from token_etl_spark.functions.timeops import changelog, changelog_entries, day_bucket
from token_etl_spark.operators.balances import wallet_hour_balances
from token_etl_spark.operators.dapps import explode_registry


def enhance_tokens(
    transfers: DataFrame,
    token_metadata: DataFrame,
    dapp_registry: DataFrame | None = None,
    start_ts: int | None = None,
    end_ts: int | None = None,
) -> DataFrame:
    """transfers (+dims) → one summary document per token with metadata.

    Columns: contract_address, txChanges, tradingVolumeChanges,
    uniqueAddressChanges, avgTransactionPerDayChanges, holderChanges,
    whaleChanges, dappChanges (when a registry is supplied), name,
    symbol. A transfer without a timestamp raises an error naming this
    pipeline and ``transact_at``.
    """
    ts = F.col("transact_at").cast("long")
    scoped = transfers
    if start_ts is not None and end_ts is not None:
        # S4 semantics: contract/time predicate pushed into the scan
        scoped = scoped.filter(ts.between(start_ts, end_ts))
    dim = F.broadcast(
        token_metadata.select(
            "contract_address",
            "name",
            "symbol",
            (F.col("circulating_supply") * F.col("whale_threshold")).alias("whale_min"),
        )
    )
    # 1. per (token, wallet, hour)
    wallets = wallet_hour_balances(scoped, "enhance_tokens").join(
        dim.select("contract_address", "whale_min"), "contract_address"
    )

    # 2. per (token, hour)
    hourly_aggs = [
        F.sum("sent").alias("tx"),
        F.sum("received").alias("volume"),
        F.count("address").alias("wallets"),
        F.sum((F.col("balance") > 0).cast("int")).alias("holders"),
        F.sum((F.col("balance") >= F.col("whale_min")).cast("int")).alias("whales"),
    ]
    if dapp_registry is not None:
        # wallet → the dapps it is a contract of (a broadcast lookup, so
        # no wallet row is duplicated); dapps touched per hour = distinct
        # union of the touched wallets' dapps
        reg = explode_registry(dapp_registry)
        dapps_of = F.broadcast(
            reg.groupBy("dapp_address").agg(F.collect_set("idCMC").alias("dapp_ids"))
        )
        wallets = wallets.join(
            dapps_of,
            strip_collection_prefix("address") == dapps_of["dapp_address"],
            "left",
        )
        hourly_aggs.append(
            F.size(F.array_distinct(F.flatten(F.collect_list("dapp_ids"))))
            .cast("long")
            .alias("dapps")
        )
    hourly = wallets.groupBy("contract_address", "hour_ts").agg(*hourly_aggs)

    # 3. per token: every changelog in one aggregate. Hourly rows are
    # few (tokens × hours), so one exchange on the token serves the
    # daily window and the aggregate both. avg tx per day is the A4
    # reference quirk, per-day count / 24; each hour of a day carries
    # the same entry, which array_distinct keeps once.
    per_day = Window.partitionBy("contract_address", "day_ts")
    hourly = (
        hourly.repartition("contract_address")
        .withColumn("day_ts", day_bucket(F.col("hour_ts")))
        .withColumn("avg_tx", F.sum("tx").over(per_day) / F.lit(24.0))
    )
    maps = [
        changelog("hour_ts", "tx", "txChanges"),
        changelog("hour_ts", "volume", "tradingVolumeChanges"),
        changelog("hour_ts", "wallets", "uniqueAddressChanges"),
        F.map_from_entries(
            F.array_distinct(changelog_entries("day_ts", "avg_tx"))
        ).alias("avgTransactionPerDayChanges"),
        changelog("hour_ts", "holders", "holderChanges"),
        changelog("hour_ts", "whales", "whaleChanges"),
    ]
    if dapp_registry is not None:
        # only hours some dapp touched get an entry
        maps.append(
            F.map_filter(
                F.map_from_entries(changelog_entries("hour_ts", "dapps")),
                lambda _, n: n > 0,
            ).alias("dappChanges")
        )
    per_token = hourly.groupBy("contract_address").agg(*maps)
    return per_token.join(
        dim.select("contract_address", "name", "symbol"), "contract_address"
    )
