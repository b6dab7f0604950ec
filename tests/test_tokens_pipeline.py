from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from token_etl_spark import fixtures
from token_etl_spark.pipelines.tokens import enhance_tokens


@pytest.fixture(scope="module")
def token_docs(spark):
    transfers = fixtures.transfers_df(spark, n_rows=1500, n_wallets=15)
    meta = fixtures.token_metadata_df(spark)
    registry = fixtures.dapp_registry_df(spark)
    out = enhance_tokens(transfers, meta, registry).collect()
    return {r["contract_address"]: r for r in out}


def test_one_document_per_token(token_docs):
    assert set(token_docs) == {t[0] for t in fixtures.TOKENS}


def test_changelog_consistency(token_docs):
    for addr, row in token_docs.items():
        tx = row["txChanges"]
        vol = row["tradingVolumeChanges"]
        uniq = row["uniqueAddressChanges"]
        assert set(tx) == set(vol) == set(uniq)  # same hourly buckets
        assert all(v >= 1 for v in tx.values())
        # unique wallets per hour can't exceed 2× transfer count
        assert all(uniq[ts] <= 2 * tx[ts] for ts in tx)


def test_avg_tx_per_day_quirk(token_docs):
    for row in token_docs.values():
        avg = row["avgTransactionPerDayChanges"]
        # every value is day_count/24 → value*24 is a whole number
        assert all(abs(v * 24 - round(v * 24)) < 1e-9 for v in avg.values())


def test_metadata_joined(token_docs):
    syms = {r["symbol"] for r in token_docs.values()}
    assert syms == {"VALAS", "VENUS", "CAKE"}


def test_holder_counts_bounded_by_wallets(token_docs):
    for row in token_docs.values():
        assert all(0 <= v <= 16 for v in row["holderChanges"].values())
        assert all(v >= 0 for v in row["whaleChanges"].values())


# --- pandas reference -------------------------------------------------------

_DAPP_ADDRESSES = {
    a for r in fixtures.make_dapp_registry_pdf()["contract_addresses"] for a in r
}
_CAKE = "0x" + "cc" * 20


def _reference_pdf():
    """Fixture transfers with every case the fused plan must get right:
    self-transfers, null values (one hour holds only a null), and a
    token (CAKE) whose transfers touch no dapp address."""
    pdf = fixtures.make_transfers_pdf(n_rows=1200, n_wallets=15)
    bare = lambda c: c.str.split("/").str[-1]  # noqa: E731
    touches_dapp = bare(pdf["_from"]).isin(_DAPP_ADDRESSES) | bare(
        pdf["_to"]
    ).isin(_DAPP_ADDRESSES)
    pdf = pdf[~((pdf["contract_address"] == _CAKE) & touches_dapp)].copy()
    pdf["value"] = pdf["value"].astype(object)
    pdf.loc[pdf.index[::97], "value"] = None
    w = "wallets/" + "0x" + "ab" * 20
    extra = pd.DataFrame(
        [
            # self-transfer; and a lone null-valued transfer in its own hour
            dict(pdf.iloc[0], _key="self", _from=w, _to=w, value=7.0),
            dict(
                pdf.iloc[1],
                _key="null_hour",
                value=None,
                transact_at=str(fixtures.START_TS + 20 * 86400),
            ),
        ]
    )
    return pd.concat([pdf, extra], ignore_index=True)


def _reference_docs(pdf):
    """enhance_tokens' contract, one transfer at a time in plain Python."""
    from collections import defaultdict

    meta = {a: (sym, thr * sup) for a, sym, thr, sup in fixtures.TOKENS}
    dapps_of = defaultdict(set)
    reg = fixtures.make_dapp_registry_pdf()
    for dapp, addrs in zip(reg["_id"], reg["contract_addresses"]):
        for a in addrs:
            dapps_of[a].add(dapp)
    docs = {}
    for token, rows in pdf.groupby("contract_address"):
        tx, day_tx = defaultdict(int), defaultdict(int)
        vol, users, dapps = {}, defaultdict(set), defaultdict(set)
        net = {}  # (address, hour) → net flow; None while only nulls moved
        for src, dst, value, at in zip(rows["_from"], rows["_to"], rows["value"], rows["transact_at"]):
            h = int(at) // 3600 * 3600
            tx[h] += 1
            day_tx[int(at) // 86400 * 86400] += 1
            v = None if pd.isna(value) else float(value)
            vol[h] = vol.get(h) if v is None else (vol.get(h) or 0.0) + v
            for addr, sign in ((src, -1.0), (dst, 1.0)):
                users[h].add(addr)
                dapps[h] |= dapps_of[addr.split("/")[-1]]
                prev = net.get((addr, h))
                net[(addr, h)] = prev if v is None else (prev or 0.0) + sign * v
        balance, holders, whales = {}, defaultdict(int), defaultdict(int)
        for addr, h in sorted(net):
            n, prev = net[(addr, h)], balance.get(addr)
            bal = prev if n is None else (n if prev is None else prev + n)
            balance[addr] = bal
            holders[h] += int(bal is not None and bal > 0)
            whales[h] += int(bal is not None and bal >= meta[token][1])
        docs[token] = {
            "txChanges": dict(tx),
            "tradingVolumeChanges": vol,
            "uniqueAddressChanges": {h: len(s) for h, s in users.items()},
            "avgTransactionPerDayChanges": {d: n / 24.0 for d, n in day_tx.items()},
            "holderChanges": {h: holders[h] for h in tx},
            "whaleChanges": {h: whales[h] for h in tx},
            "dappChanges": {h: len(s) for h, s in dapps.items() if s},
            "symbol": meta[token][0],
        }
    return docs


@pytest.fixture(scope="module")
def reference_case(spark):
    from pyspark.sql import types as T

    from token_etl_spark import schemas

    pdf = _reference_pdf()
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schemas.TRANSFERS]
    )
    transfers = spark.createDataFrame(pdf, schema=nullable)
    meta = fixtures.token_metadata_df(spark)
    registry = fixtures.dapp_registry_df(spark)
    got = {
        r["contract_address"]: r
        for r in enhance_tokens(transfers, meta, registry).collect()
    }
    return pdf, got


def test_enhance_tokens_matches_pandas_reference(reference_case):
    """Column by column against the plain-Python reference: integer maps
    exactly, volumes to 1e-9 relative (the fused plan sums per wallet
    first, so the order of addition differs)."""
    pdf, got = reference_case
    want = _reference_docs(pdf)
    assert (pdf["_from"] == pdf["_to"]).any() and pdf["value"].isna().any()
    assert set(got) == set(want)
    for token, doc in want.items():
        row = got[token]
        for col in ("txChanges", "uniqueAddressChanges", "holderChanges",
                    "whaleChanges", "dappChanges", "avgTransactionPerDayChanges"):
            assert dict(row[col]) == doc[col], (token, col)
        vol = dict(row["tradingVolumeChanges"])
        assert set(vol) == set(doc["tradingVolumeChanges"])
        for h, v in doc["tradingVolumeChanges"].items():
            if v is None:
                assert vol[h] is None, (token, h)
            else:
                assert vol[h] == pytest.approx(v, rel=1e-9, abs=1e-12), (token, h)
        assert row["symbol"] == doc["symbol"]
    assert want[_CAKE]["dappChanges"] == {}  # the dapp-less token is covered


def test_token_without_dapp_traffic_keeps_its_document(spark):
    """A token no dapp touches still gets its document, with an empty
    dappChanges map — and the same metrics as without a registry."""
    transfers = fixtures.transfers_df(spark, n_rows=1500, n_wallets=15)
    bare = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    touches = bare("_from").isin(*_DAPP_ADDRESSES) | bare("_to").isin(*_DAPP_ADDRESSES)
    transfers = transfers.where(~((F.col("contract_address") == _CAKE) & touches))
    meta = fixtures.token_metadata_df(spark)
    with_reg = {
        r["contract_address"]: r
        for r in enhance_tokens(transfers, meta, fixtures.dapp_registry_df(spark)).collect()
    }
    without = {r["contract_address"]: r for r in enhance_tokens(transfers, meta).collect()}
    assert set(with_reg) == set(without) == {t[0] for t in fixtures.TOKENS}
    assert with_reg[_CAKE]["dappChanges"] == {}
    assert with_reg[_CAKE]["txChanges"] == without[_CAKE]["txChanges"]
    assert all(with_reg[t]["dappChanges"] for t in with_reg if t != _CAKE)


def test_enhance_tokens_refuses_transfer_without_timestamp(spark):
    """A transfer whose block has no timestamp fails loudly, naming the
    pipeline and the column — not with a bare NULL_MAP_KEY."""
    victim = fixtures.make_transfers_pdf(n_rows=50, n_wallets=5)["_key"][3]
    transfers = fixtures.transfers_df(spark, n_rows=50, n_wallets=5).withColumn(
        "transact_at",
        F.when(F.col("_key") == victim, None).otherwise(F.col("transact_at")),
    )
    with pytest.raises(Exception, match=r"enhance_tokens: .*transact_at"):
        enhance_tokens(transfers, fixtures.token_metadata_df(spark)).collect()
