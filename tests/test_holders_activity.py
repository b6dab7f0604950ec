from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark import fixtures
from token_etl_spark.operators.activity import wallet_cluster, wallet_cluster_pivot
from token_etl_spark.operators.holders import holder_flag
from token_etl_spark.pipelines.tokens import enhance_tokens

TOKEN = fixtures.TOKENS[0][0]


def _token_doc(spark, rows, registry=None):
    """enhance_tokens' document for TOKEN over (_from, _to, value,
    transact_at) transfer rows — the pipeline that owns the A2-A7 maps."""
    transfers = spark.createDataFrame(
        [(TOKEN, *r) for r in rows],
        "contract_address string, _from string, _to string, value double, "
        "transact_at string",
    )
    return enhance_tokens(transfers, fixtures.token_metadata_df(spark), registry).collect()[0]


def test_holder_flag_reference_semantics(spark):
    # P7: holder when balance > t OR (pre_balance > t AND balance IS NULL)
    df = spark.createDataFrame(
        [(1.0, None), (0.0, None), (None, 5.0), (None, 0.0)],
        "balance double, pre_balance double",
    )
    out = df.select(
        holder_flag(F.col("balance"), F.col("pre_balance"), 0.0).alias("h")
    ).collect()
    assert [r["h"] for r in out] == [True, False, True, False]


def test_holder_count_sums_booleans(spark):
    # A2: per hour, the wallets that moved and hold a positive balance
    doc = _token_doc(spark, [
        ("wallets/x", "wallets/a", 5.0, "3600"),
        ("wallets/x", "wallets/b", 3.0, "3700"),
        ("wallets/a", "wallets/c", 5.0, "7300"),  # a drops to 0, c holds
    ])
    assert doc["holderChanges"] == {3600: 2, 7200: 1}


def test_with_whale_flag_broadcast_dim(spark):
    from token_etl_spark.operators.holders import with_whale_flag

    balances = spark.createDataFrame(
        [(TOKEN, "a", 600.0), (TOKEN, "b", 400.0), (TOKEN, "e", 500.0),
         ("0xunknown", "c", 1e12)],
        "contract_address string, address string, balance double",
    )
    out = {r["address"]: r["isWhale"] for r in
           with_whale_flag(balances, fixtures.token_metadata_df(spark)).collect()}
    # VALAS threshold = 0.0005 × 1,000,000 = 500; exactly 500 is a whale
    assert out == {"a": True, "b": False, "e": True, "c": False}  # unknown token → False


def test_dapp_changelog_hourly(spark):
    # A7: distinct dapps whose contracts a transfer touched, per hour
    d1, d2 = "0x" + "d1" * 20, "0x" + "d2" * 20
    registry = spark.createDataFrame(
        [("d1", "One", None, [d1]), ("d2", "Two", None, [d2])],
        "_id string, name string, image string, contract_addresses array<string>",
    )
    doc = _token_doc(spark, [
        ("wallets/u", f"wallets/{d1}", 1.0, "3600"),
        ("wallets/u", f"wallets/{d2}", 1.0, "3700"),
        (f"wallets/{d1}", "wallets/u", 1.0, "3800"),
        ("wallets/u", f"wallets/{d1}", 1.0, "7300"),
    ], registry)
    assert doc["dappChanges"] == {3600: 2, 7200: 1}


def test_avg_tx_per_day_is_count_div_24(spark):
    # A4 quirk (BaseEnricher.scala:213-220): per-day count / 24, not a mean.
    doc = _token_doc(
        spark, [("wallets/a", "wallets/b", 1.0, str(i * 1800)) for i in range(48)]
    )  # 48 transfers in day 0
    assert doc["avgTransactionPerDayChanges"] == {0: 48 / 24.0}


def test_unique_active_wallets_counts_both_endpoints(spark):
    doc = _token_doc(spark, [
        ("wallets/a", "wallets/b", 1.0, "3600"),
        ("wallets/b", "wallets/c", 1.0, "3800"),
    ])
    assert doc["uniqueAddressChanges"] == {3600: 3}


def test_wallet_cluster_pivot_deterministic(spark):
    df = spark.createDataFrame(
        [(3600, "x", 10.0), (3600, "y", 5000.0), (3600, "z", 500000.0), (3600, "w", 20.0)],
        "timestamp long, address string, balance double",
    ).withColumn("walletCluster", wallet_cluster())
    row = wallet_cluster_pivot(df).collect()[0]
    # min(address) per cluster cell: LOW gets min('x','w')='w'
    assert (row["LOW"], row["MEDIUM"], row["HIGH"]) == ("w", "y", "z")


def test_tx_count_day_bucket(spark):
    # A3 per hour, and per day through the A4 map
    doc = _token_doc(spark, [
        ("wallets/a", "wallets/b", 1.0, "10"),
        ("wallets/a", "wallets/b", 1.0, "86410"),
        ("wallets/a", "wallets/b", 1.0, "86420"),
    ])
    assert doc["txChanges"] == {0: 1, 86400: 2}
    assert doc["avgTransactionPerDayChanges"] == {0: 1 / 24.0, 86400: 2 / 24.0}
