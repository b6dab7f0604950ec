"""Dapp registry + explode-join operators (SURVEY §2.1 S10, §2.3 J1/J2/J5).

The reference loads a JSON dapp registry (DappEnricher.scala:29), filters
it (Extract0x38Dapp.scala:8-45: drop NFT sources, keep 0x38-chain
addresses, strip the chain prefix), then matches transfer endpoints to
dapp contract addresses by exploding the address arrays on both sides and
equi-joining (BaseEnricher.scala:348-355) — the idiomatic Spark rewrite of
an array-membership join, which we keep: explode + broadcast hash join
beats an ``arrays_overlap`` theta-join at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from token_etl_spark.functions.keys import strip_collection_prefix


def filter_registry(raw: DataFrame, chain_prefix: str = "0x38") -> DataFrame:
    """S10 preprocessing (Extract0x38Dapp.scala:8-45), in-plan:

    drop entries whose ``sources`` contain "nft"; keep only contract
    addresses on the target chain (``{chain_prefix}:0x...``); strip the
    chain prefix; emit (_id, name, image, contract_addresses).
    """
    kept = raw
    if "sources" in raw.columns:
        kept = kept.filter(~F.array_contains(F.col("sources"), "nft"))
    addrs = F.filter(F.col("contract_addresses"), lambda a: a.startswith(chain_prefix + ":"))
    stripped = F.transform(addrs, lambda a: F.element_at(F.split(a, ":"), 2))
    return (
        kept.withColumn("contract_addresses", stripped)
        .filter(F.size("contract_addresses") > 0)
        .select("_id", "name", "image", "contract_addresses")
    )


def explode_registry(registry: DataFrame) -> DataFrame:
    """Registry rows → one row per (dapp, contract address) (J5 left leg)."""
    return registry.select(
        F.col("_id").alias("idCMC"),
        "name",
        "image",
        F.explode("contract_addresses").alias("dapp_address"),
    )


def match_dapp_endpoints(
    transfers: DataFrame,
    registry: DataFrame,
    from_col: str = "_from",
    to_col: str = "_to",
) -> DataFrame:
    """J5/J1: explode transfer endpoints, equi-join exploded registry.

    The registry is tiny (dozens-to-thousands of dapps) → broadcast; the
    transfer side never shuffles. Reference: BaseEnricher.scala:348-355.
    """
    # endpoints carry the "wallets/" vertex prefix — strip before matching
    # (F2 applied pre-join in the reference, BaseEnricher.scala:336,341)
    endpoints = transfers.withColumn(
        "address", F.explode(F.array(F.col(from_col), F.col(to_col)))
    ).withColumn("address", strip_collection_prefix("address"))
    reg = F.broadcast(explode_registry(registry))
    return endpoints.join(reg, endpoints["address"] == reg["dapp_address"], "inner").drop(
        "dapp_address"
    )
