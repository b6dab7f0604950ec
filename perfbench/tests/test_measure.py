"""Unit tests of the benchmark's own helpers (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pandas as pd
import pytest

import gen
import measure


def test_transfers_deterministic_for_a_seed():
    a = gen.transfers(7, 2_000, 500, 6, 4)
    b = gen.transfers(7, 2_000, 500, 6, 4)
    for name in ("raw", "block_timestamps", "token_metadata", "dapp_registry"):
        pd.testing.assert_frame_equal(getattr(a, name), getattr(b, name))
    assert a.stats == b.stats
    c = gen.transfers(8, 2_000, 500, 6, 4)
    assert not a.raw.equals(c.raw)


def test_transfers_shape():
    d = gen.transfers(3, 5_000, 2_000, 10, 6)
    raw = d.raw
    assert len(raw) == 5_000
    assert raw["transaction_hash"].is_unique  # so transfer keys are unique
    assert raw["block_number"].is_monotonic_increasing
    assert set(raw["block_number"]) == set(d.block_timestamps["block_number"])
    assert d.stats["blocks_without_event"] > 0
    # Zipf skew: the busiest wallet carries far more than a uniform share
    assert d.stats["top_wallet_share"] > 10 / d.stats["wallets_active"]
    assert d.stats["whale_events"] > 0


def test_query_tables_deterministic_for_a_seed(tmp_path):
    def tables(seed: int, name: str) -> dict[str, pd.DataFrame]:
        out = tmp_path / name
        out.mkdir()
        rows = gen.query_tables(out, seed)
        assert rows == gen.SF001_ROWS | {"region": 5, "nation": 25}
        return {t: pd.read_parquet(out / f"{t}.parquet") for t in rows}

    a, b, c = tables(5, "a"), tables(5, "b"), tables(6, "c")
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    for name in ("lineitem", "documents", "embeddings", "events"):
        assert not a[name].equals(c[name])


@pytest.mark.parametrize("n", [11, 12, 20, 28, 40, 99, 100, 101, 1000])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    values = [float(v) for v in range(n)]  # value == its rank - 1
    value, p = measure.tail_percentile(values)
    assert sum(v > value for v in values) >= 10
    # the next whole percentile would leave fewer than ten beyond it
    if p < 100:
        rank_next = -(-(p + 1) * n // 100)
        assert n - rank_next < 10


def test_tail_percentile_examples():
    assert measure.tail_percentile(list(range(20))) == (9, 50)
    assert measure.tail_percentile(list(range(100))) == (89, 90)
    assert measure.tail_percentile(list(range(11))) == (0, 9)
    with pytest.raises(ValueError):
        measure.tail_percentile(list(range(10)))


def test_self_time_subtracts_covered_interval_once():
    parent = measure.Span(0, "p", None, None, start=0.0, end=10.0)
    kids = [
        measure.Span(1, "a", 0, None, start=1.0, end=3.0),
        measure.Span(2, "b", 0, None, start=2.0, end=5.0),  # overlaps a
        measure.Span(3, "c", 0, None, start=7.0, end=8.0),
    ]
    assert measure.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert measure.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_self_times(monkeypatch):
    clock = iter([0.0, 1.0, 2.0, 4.0, 6.0, 10.0])
    monkeypatch.setattr(measure.time, "perf_counter", lambda: next(clock))
    tr = measure.Tracer(enabled=True)
    with tr.span("op", op=7):          # 0 .. 10
        with tr.span("layer.a"):       # 1 .. 6
            with tr.span("layer.b"):   # 2 .. 4
                pass
    st = tr.self_times()
    assert [s.name for s in tr.spans] == ["op", "layer.a", "layer.b"]
    assert st == {0: 5.0, 1: 3.0, 2: 2.0}
    assert all(s.op == 7 for s in tr.spans)
    assert tr.layer_self_seconds() == {"op": 5.0, "layer.a": 3.0, "layer.b": 2.0}


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []
