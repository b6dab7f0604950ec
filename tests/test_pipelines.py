"""Domain-fidelity tests: run the full pipelines over the generated
FIXTURES.md §A tables and cross-check against independently computed
expectations (pandas/DuckDB on the same fixture rows).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from token_etl_spark import fixtures
from token_etl_spark.operators.dapps import match_dapp_endpoints
from token_etl_spark.pipelines.dapps_pipeline import enrich_dapps
from token_etl_spark.pipelines.transfers import enrich_transfers
from token_etl_spark.pipelines.wallets import wallet_balance_changelogs


@pytest.fixture(scope="module")
def transfers_pdf():
    return fixtures.make_transfers_pdf(n_rows=2000, n_wallets=20)


@pytest.fixture(scope="module")
def transfers(spark, transfers_pdf):
    df = spark.createDataFrame(transfers_pdf, schema=fixtures.schemas.TRANSFERS)
    df.persist()
    df.count()
    return df


def test_enrich_transfers_end_to_end(spark):
    raw_pdf = fixtures.make_raw_transfer_events_pdf(n_rows=500)
    raw = spark.createDataFrame(raw_pdf, schema=fixtures.schemas.RAW_TRANSFER_EVENT)
    dim = fixtures.block_timestamps_df(spark, raw_pdf)
    out = enrich_transfers(raw, dim)
    assert out.count() == 500
    row = out.filter(F.col("transact_at").isNotNull()).first()
    assert row["_from"].startswith("wallets/0x")
    assert row["_key"].endswith(row["transaction_hash"])
    # the dropped block → null transact_at path (Web3.scala:70-75 parity)
    dropped_block = int(sorted(raw_pdf["block_number"].unique())[0])
    nulls = out.filter(F.col("block_number") == dropped_block)
    assert all(r["transact_at"] is None for r in nulls.collect())


def test_wallet_changelogs_match_duckdb_oracle(spark, transfers, transfers_pdf):
    meta = fixtures.token_metadata_df(spark)
    out = wallet_balance_changelogs(transfers, meta, densify=False)
    got = {r["_key"]: r["balanceChangeLogs"] for r in out.collect()}

    con = duckdb.connect()
    con.register("t", transfers_pdf)
    oracle = con.execute(
        """
        WITH unpiv AS (
          SELECT contract_address,
                 CAST(floor(CAST(transact_at AS BIGINT)/3600)*3600 AS BIGINT) AS ts,
                 _from AS address, -value AS sv FROM t
          UNION ALL
          SELECT contract_address,
                 CAST(floor(CAST(transact_at AS BIGINT)/3600)*3600 AS BIGINT) AS ts,
                 _to AS address, value AS sv FROM t),
        flows AS (
          SELECT contract_address, address, ts, sum(sv) AS net
          FROM unpiv GROUP BY 1,2,3),
        bal AS (
          SELECT contract_address, address, ts,
                 sum(net) OVER (PARTITION BY contract_address, address ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
          FROM flows)
        SELECT contract_address, split_part(address, '/', 2) AS addr, ts, balance
        FROM bal
        """
    ).fetchall()

    from collections import defaultdict

    exp = defaultdict(dict)
    for contract, addr, ts, balance in oracle:
        exp[f"{contract}_{addr}"][ts] = balance

    assert set(got) == set(exp)
    for key, logs in got.items():
        assert set(logs) == set(exp[key])
        for ts, entry in logs.items():
            assert abs(entry["balance"] - exp[key][ts]) < 1e-6


def test_wallet_whale_flags(spark, transfers):
    meta = fixtures.token_metadata_df(spark)
    out = wallet_balance_changelogs(transfers, meta, densify=False)
    valas = fixtures.TOKENS[0]  # threshold 0.0005 × 1,000,000 = 500.0
    threshold = valas[2] * valas[3]
    rows = out.filter(F.col("_key").startswith(valas[0])).collect()
    checked = 0
    for r in rows:
        for entry in r["balanceChangeLogs"].values():
            assert entry["isWhale"] == (entry["balance"] >= threshold)
            checked += 1
    assert checked > 0


def test_densify_forward_fills_between_hours(spark):
    pdf = fixtures.make_transfers_pdf(n_rows=50, n_wallets=5)
    df = spark.createDataFrame(pdf, schema=fixtures.schemas.TRANSFERS)
    meta = fixtures.token_metadata_df(spark)
    dense = wallet_balance_changelogs(df, meta, densify=True)
    sparse = wallet_balance_changelogs(df, meta, densify=False)
    d = {r["_key"]: r["balanceChangeLogs"] for r in dense.collect()}
    s = {r["_key"]: r["balanceChangeLogs"] for r in sparse.collect()}
    for key in s:
        assert set(s[key]) <= set(d[key])  # densified ⊇ sparse
        for ts, entry in s[key].items():
            assert d[key][ts]["balance"] == entry["balance"]


def test_dapp_matching_and_rollup(spark, transfers):
    registry = fixtures.dapp_registry_df(spark)
    matched = match_dapp_endpoints(transfers, registry)
    ids = {r["idCMC"] for r in matched.select("idCMC").distinct().collect()}
    assert "dapp-swap" in ids       # overlap address is in the transfer set
    assert "dapp-miss" not in ids   # never-seen address joins nothing
    rolled = enrich_dapps(transfers, registry).collect()
    assert {r["idCMC"] for r in rolled} == ids
    for r in rolled:
        assert r["_key"] == f"{r['contract_address']}_{r['idCMC']}"
        # A8: the interacting addresses, distinct and sorted
        assert r["addresses"] == sorted(set(r["addresses"]))
        if r["idCMC"] == "dapp-lend":
            assert r["image"] == "default.png"  # na.fill parity


def test_ingest_ranges_retries_transient_failure_idempotently(spark, tmp_path):
    """Reference operational contract (TransferEnricher.scala:94-110):
    one transient source failure per range must not abort the run or
    corrupt the sink; a wholesale re-run of an already-ingested range
    must be a no-op (upsert idempotence)."""
    from token_etl_spark.io.sinks import read_upserted
    from token_etl_spark.pipelines.transfers import ingest_ranges

    path = str(tmp_path / "ingest")
    failures = {"n": 0}

    def load_batch(lo, hi):
        if (lo, hi) == (100, 199) and failures["n"] == 0:
            failures["n"] += 1
            raise RuntimeError("transient source failure")
        return spark.range(lo, hi + 1).select(
            F.concat(F.lit("k"), F.col("id")).alias("_key"),
            F.col("id").alias("block_number"),
        )

    ranges = [(0, 99), (100, 199), (200, 299)]
    done = ingest_ranges(
        spark, ranges, load_batch, path, max_retries=2, backoff_s=0.01
    )
    assert done == 3 and failures["n"] == 1
    got = read_upserted(spark, path)
    assert got.count() == 300  # every range landed exactly once
    # re-running an ingested range is a no-op on contents
    ingest_ranges(spark, [(100, 199)], load_batch, path)
    assert read_upserted(spark, path).count() == 300

    # a PERSISTENTLY failing range raises after exhausting retries
    def always_fail(lo, hi):
        raise RuntimeError("source down")

    with pytest.raises(RuntimeError, match="source down"):
        ingest_ranges(spark, [(300, 399)], always_fail, path,
                      max_retries=1, backoff_s=0.01)


def test_wallet_changelogs_refuse_transfer_without_timestamp(spark, transfers):
    """A transfer whose block has no timestamp fails loudly, naming the
    pipeline and the column — not with a bare NULL_MAP_KEY."""
    first = transfers.limit(1).select("_key").collect()[0][0]
    broken = transfers.withColumn(
        "transact_at",
        F.when(F.col("_key") == first, None).otherwise(F.col("transact_at")),
    )
    meta = fixtures.token_metadata_df(spark)
    for densify in (False, True):
        with pytest.raises(Exception, match=r"wallet_balance_changelogs: .*transact_at"):
            wallet_balance_changelogs(broken, meta, densify=densify).collect()
