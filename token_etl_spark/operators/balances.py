"""Wallet hourly balance stage (SURVEY §2.7 U1, §2.4 A1, §2.5 W1).

Reference lifecycle (``calculateBalance``, BaseEnricher.scala:87-128,
shared by the wallet enricher and the token enricher's holder and whale
changelogs): hour-bucket each transfer, unpivot the edge into signed
endpoint rows (sender −value / receiver +value), aggregate net flow per
(hour, address), then a cumulative-sum window for the running balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from token_etl_spark.functions.timeops import hour_bucket, require_timestamp


def wallet_hour_balances(transfers: DataFrame, pipeline: str) -> DataFrame:
    """transfers → one row per (token, wallet, hour) the wallet moved in:
    ``contract_address``, ``address``, ``hour_ts``, ``net`` flow,
    transfers ``sent``, value ``received`` and the running ``balance``
    after the hour. Hours a wallet did not move in are absent.

    A transfer without a timestamp raises an error naming ``pipeline``
    and ``transact_at``. One exchange on (token, wallet) serves the
    aggregate and the balance window both; Catalyst prunes whichever of
    ``net``/``sent``/``received`` a caller does not read.
    """
    hour = hour_bucket(
        require_timestamp(F.col("transact_at").cast("long"), pipeline)
    )
    # one row per transfer endpoint, the sender (-value, sent) and the
    # receiver (+value, received); a self-transfer nets to zero and
    # still counts once as sent
    endpoints = F.array(
        F.struct(
            F.col("_from").alias("address"),
            (-F.col("value")).alias("flow"),
            F.lit(1).alias("sent"),
            F.lit(None).cast(transfers.schema["value"].dataType).alias("received"),
        ),
        F.struct(
            F.col("_to").alias("address"),
            F.col("value").alias("flow"),
            F.lit(0).alias("sent"),
            F.col("value").alias("received"),
        ),
    )
    running = (
        Window.partitionBy("contract_address", "address")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        transfers.select("contract_address", hour.alias("hour_ts"), F.inline(endpoints))
        # one exchange for the aggregate and the balance window both
        .repartition("contract_address", "address")
        .groupBy("contract_address", "address", "hour_ts")
        .agg(
            F.sum("flow").alias("net"),
            F.sum("sent").alias("sent"),
            F.sum("received").alias("received"),
        )
        .withColumn("balance", F.sum("net").over(running))
    )
