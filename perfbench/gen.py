"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument, so the same seed always
gives the same inputs.

- :func:`transfers` makes raw BSC transfer events with Zipf-skewed
  wallets and tokens, a whale tail and blocks without events, plus the
  block-timestamp, token-metadata and dapp-registry dimensions (the
  registry overlaps popular wallets). It builds its frames with
  whole-array numpy operations (no per-row Python loop), so generation
  stays cheap next to the Spark work it feeds.
- :func:`query_tables` writes the ten tables the query plans read
  (``token_etl_spark.schemas.TESTDATA_TABLES``) at sf0.01, with the
  profiled generators of ``scripts/probe_scaling.py``.
"""

from __future__ import annotations

import importlib.util
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent

BLOCK0 = 27_479_303
START_TS = 1_681_931_734  # unix 2023-04-19, the reference's window start
SECONDS_PER_BLOCK = 3


def _hex_strings(rng: np.random.Generator, n: int, n_bytes: int) -> np.ndarray:
    """``n`` distinct ``0x``-prefixed hex strings of ``n_bytes`` random bytes."""
    while True:
        raw = rng.integers(0, 256, size=(n, n_bytes), dtype=np.uint8)
        hexed = np.frombuffer(raw.tobytes().hex().encode(), dtype=f"S{2 * n_bytes}")
        out = np.char.add("0x", hexed.astype(f"U{2 * n_bytes}"))
        if len(np.unique(out)) == n:
            return out


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


@dataclass(frozen=True)
class Transfers:
    """One generated transfer data set (pandas frames in source schemas)."""

    raw: pd.DataFrame  # schemas.RAW_TRANSFER_EVENT, sorted by block
    block_timestamps: pd.DataFrame  # schemas.BLOCK_TIMESTAMPS
    token_metadata: pd.DataFrame  # schemas.TOKEN_METADATA
    dapp_registry: pd.DataFrame  # schemas.DAPP_REGISTRY
    stats: dict


WALLET_SKEW = 1.1  # Zipf exponent over wallets
TOKEN_SKEW = 1.2  # Zipf exponent over tokens
WHALE_SHARE = 0.002  # events whose value is 10^4 times the usual draw
GAP_SHARE = 0.02  # blocks that carry no event
N_DAPPS = 12


def transfers(seed: int, n_events: int, n_wallets: int, n_tokens: int, hours: int) -> Transfers:
    """Raw transfer events spread over ``hours`` hours of blocks.

    Senders and receivers are drawn from a Zipf(WALLET_SKEW) law over a
    seed-permuted wallet list, tokens from Zipf(TOKEN_SKEW). WHALE_SHARE
    of the events carry values 10^4 times the usual lognormal draw, and
    GAP_SHARE of the blocks carry no event. Every block with an event has
    a timestamp: the changelog pipelines refuse a transfer without one
    (``NULL_MAP_KEY``). Every event has its own transaction hash, so
    transfer keys are unique.
    """
    rng = np.random.default_rng(seed)
    wallets = _hex_strings(rng, n_wallets, 20)
    tokens = _hex_strings(rng, n_tokens, 20)

    n_blocks = hours * 3600 // SECONDS_PER_BLOCK
    live = np.flatnonzero(rng.random(n_blocks) >= GAP_SHARE)
    block = BLOCK0 + np.sort(rng.choice(live, size=n_events))

    wallet_rank = rng.permutation(n_wallets)
    wp = _zipf_probs(n_wallets, WALLET_SKEW)
    src = wallet_rank[rng.choice(n_wallets, size=n_events, p=wp)]
    dst = wallet_rank[rng.choice(n_wallets, size=n_events, p=wp)]
    tok = rng.choice(n_tokens, size=n_events, p=_zipf_probs(n_tokens, TOKEN_SKEW))
    whale = rng.random(n_events) < WHALE_SHARE
    value = np.round(rng.lognormal(3.0, 1.5, size=n_events) * np.where(whale, 1e4, 1.0), 6)

    raw = pd.DataFrame(
        {
            "contract_address": tokens[tok],
            "transaction_hash": _hex_strings(rng, n_events, 32),
            "log_index": rng.integers(0, 512, size=n_events).astype(np.int32),
            "block_number": block.astype(np.int32),
            "from_address": wallets[src],
            "to_address": wallets[dst],
            "value": value,
        }
    )

    used = np.unique(block)
    block_ts = pd.DataFrame(
        {
            "block_number": used.astype(np.int32),
            "timestamp": (START_TS + (used - BLOCK0) * SECONDS_PER_BLOCK).astype(np.int64),
        }
    )

    supply = np.round(rng.lognormal(14.0, 1.0, size=n_tokens), 2)
    symbols = np.char.add("TK", np.arange(n_tokens).astype(str))
    metadata = pd.DataFrame(
        {
            "contract_address": tokens,
            "name": np.char.add("Token ", np.arange(n_tokens).astype(str)),
            "symbol": symbols,
            "decimals": "18",
            "logo": np.char.add(np.char.add("https://img.example/", symbols), ".png"),
            "total_supply": np.full(n_tokens, 1_000_000, dtype=np.int32),
            "max_supply": np.full(n_tokens, 2_000_000, dtype=np.int32),
            "circulating_supply": supply,
            "whale_threshold": np.full(n_tokens, 0.001),
        }
    )

    # dapp contracts: popular wallets (so the registry join matches) plus
    # one address no event touches (a registry miss)
    popular = wallets[wallet_rank[: 2 * N_DAPPS]]
    dapp_addrs = np.append(popular, _hex_strings(rng, 1, 20))
    split = np.sort(rng.choice(np.arange(1, len(dapp_addrs)), size=N_DAPPS - 1, replace=False))
    registry = pd.DataFrame(
        {
            "_id": [f"dapp-{i}" for i in range(N_DAPPS)],
            "name": [f"Dapp {i}" for i in range(N_DAPPS)],
            "image": [None if i % 4 == 0 else f"dapp{i}.png" for i in range(N_DAPPS)],
            "contract_addresses": [list(a) for a in np.split(dapp_addrs, split)],
        }
    )

    per_wallet = np.bincount(np.concatenate([src, dst]), minlength=n_wallets)
    per_token = np.bincount(tok, minlength=n_tokens)
    stats = {
        "events": int(n_events),
        "wallets_active": int((per_wallet > 0).sum()),
        "tokens": int(n_tokens),
        "hours": int(hours),
        "blocks_with_events": int(len(used)),
        "blocks_without_event": int(n_blocks - len(used)),
        "top_wallet_share": round(float(per_wallet.max() / per_wallet.sum()), 4),
        "top_token_share": round(float(per_token.max() / n_events), 4),
        "whale_events": int(whale.sum()),
        "dapps": int(N_DAPPS),
    }
    return Transfers(raw, block_ts, metadata, registry, stats)


# ---------------------------------------------------------------------------
# Query-plan tables
# ---------------------------------------------------------------------------


def repo_script(name: str):
    """``scripts/<name>.py`` of the repository, loaded as a module."""
    path = ROOT / "scripts" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: row counts of the repository's sf0.01 test data
SF001_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}


def query_tables(out: Path, seed: int) -> dict[str, int]:
    """Write the ten query-plan tables (``schemas.TESTDATA_TABLES``) at
    sf0.01 as parquet files under ``out``; returns their row counts.

    Documents, embeddings and events come from the profiled generators of
    ``scripts/probe_scaling.py`` (the shape measured on the test data:
    ~0.16% exact-duplicate texts, embeddings around ten weak label
    centres, event values U(0, 560) over ~35 days), each with its own
    seed drawn from ``seed``. The TPC-H star follows that script's
    ``gen_tpch`` profile, scaled to sf0.01 (see :func:`_tpch`).
    """
    probe = repo_script("probe_scaling")
    docs, vecs, events, star = (int(s) for s in np.random.SeedSequence(seed).generate_state(4))
    out = str(out)
    probe.gen_documents(out, SF001_ROWS["documents"], seed=docs)
    probe.gen_embeddings(out, SF001_ROWS["embeddings"], seed=vecs)
    probe.gen_events(out, SF001_ROWS["events"], seed=events)
    _tpch(out, star, probe)
    return {f.stem: pq.read_metadata(f).num_rows for f in sorted(Path(out).glob("*.parquet"))}


def _tpch(out: str, seed: int, probe) -> None:
    """``probe_scaling.gen_tpch`` at sf0.01: that function only scales in
    whole multiples of sf0.1 and copies region and nation from the test
    data, which the benchmark may not read. Same profile: every column
    uniform and independent, ~Poisson(4) lineitems per order, foreign
    keys uniform over their parents, dates day-granular over the
    observed windows. Region and nation are the test data's fixed dims."""
    rng = np.random.default_rng(seed)
    rows = SF001_ROWS
    n_cust, n_supp, n_part, n_ord, n_li = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem")
    )

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    def numbered(prefix: str, n: int) -> pa.Array:
        return pa.array(np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9)))

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": numbered("Customer#", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": rng.choice(probe._SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": numbered("Supplier#", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(rng.choice(probe._PART_ADJ, n_part), " "), rng.choice(probe._PART_NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(probe._PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(probe._dates(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(probe._PRIORITIES, n_ord),
    })
    keys = np.sort(rng.integers(0, n_ord, size=n_li))
    counts = np.bincount(keys, minlength=n_ord)
    present = counts[counts > 0]
    run_starts = np.repeat(np.cumsum(present) - present, present)
    write("lineitem", {
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - run_starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(probe._dates(rng, "1995-01-02", "2001-11-04", n_li), pa.timestamp("us")),
    })
