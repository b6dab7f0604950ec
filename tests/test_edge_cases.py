"""Empty-input and degenerate-input robustness for the operator library."""

from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark import schemas
from token_etl_spark.operators.balances import wallet_hour_balances
from token_etl_spark.operators.dedup import exact_dedup, minhash_dedup
from token_etl_spark.operators.graph import connected_components
from token_etl_spark.operators.similarity import brute_force_topk
from token_etl_spark.pipelines.wallets import wallet_balance_changelogs
from token_etl_spark import fixtures


def test_balance_on_empty_transfers(spark):
    empty = spark.createDataFrame([], schemas.TRANSFERS)
    assert wallet_hour_balances(empty, "test").count() == 0


def test_wallet_pipeline_on_empty(spark):
    empty = spark.createDataFrame([], schemas.TRANSFERS)
    meta = fixtures.token_metadata_df(spark)
    assert wallet_balance_changelogs(empty, meta, densify=True).count() == 0


def test_dedup_single_and_empty_doc(spark):
    docs = spark.createDataFrame([(0, "only one document here")], ["doc_id", "text"])
    assert exact_dedup(docs).count() == 1
    assert minhash_dedup(docs).count() == 0  # no pairs from one doc
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_dedup(empty).count() == 0


def test_connected_components_no_edges(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_topk_k_larger_than_corpus(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=100)
    assert out.count() == 2  # everything except self, no padding rows


def test_self_transfer_only(spark):
    df = spark.createDataFrame(
        [("0xt", "wallets/a", "wallets/a", 5.0, "3600")],
        ["contract_address", "_from", "_to", "value", "transact_at"],
    )
    rows = wallet_hour_balances(df, "test").collect()
    assert len(rows) == 1 and rows[0]["balance"] == 0.0  # nets to zero
    assert (rows[0]["sent"], rows[0]["received"]) == (1, 5.0)  # sent once
