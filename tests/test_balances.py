from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark import fixtures
from token_etl_spark.operators.balances import wallet_hour_balances
from token_etl_spark.pipelines.wallets import wallet_balance_changelogs

TOKEN = fixtures.TOKENS[0][0]  # VALAS: whale line 500
SCHEMA = "contract_address string, _from string, _to string, value double, transact_at string"

TRANSFERS = [
    # (_from, _to, value, transact_at) — hand-computed fixture
    ("wallets/a", "wallets/b", 10.0, "3600"),
    ("wallets/b", "wallets/a", 4.0, "3700"),   # same hour as above
    ("wallets/a", "wallets/c", 2.0, "7300"),   # next hour
    ("wallets/c", "wallets/c", 9.0, "7400"),   # self-transfer nets to 0
]


def _df(spark, rows=TRANSFERS, token=TOKEN):
    return spark.createDataFrame([(token, *r) for r in rows], SCHEMA)


def _balances(spark, rows=TRANSFERS):
    return wallet_hour_balances(_df(spark, rows), "test")


def test_signed_unpivot_doubles_rows_and_signs(spark):
    # every transfer is a sender row (-v) and a receiver row (+v); the
    # last running balance of each wallet is the sum of its signed rows
    rows = _balances(spark).collect()
    assert len(rows) == 4  # (a,3600) (a,7200) (b,3600) (c,7200)
    last = {}
    for r in sorted(rows, key=lambda r: r["hour_ts"]):
        last[r["address"]] = r["balance"]
    # a: -10 +4 -2 = -8 ; b: +10 -4 = 6 ; c: +2 -9 +9 = 2
    assert last == {"wallets/a": -8.0, "wallets/b": 6.0, "wallets/c": 2.0}


def test_unpivot_agrees_with_union_form(spark):
    # The reference builds the signed rows as a union of two projections
    # (BaseEnricher.scala:91-102); the stage's net flow must agree with
    # that form's per-(wallet, hour) sum (SURVEY §2.7 U1).
    df = _df(spark)
    hour = ((F.col("transact_at").cast("long") / 3600).cast("long") * 3600).alias("hour_ts")
    union_form = (
        df.select(hour, F.col("_from").alias("address"), (-F.col("value")).alias("v"))
        .union(df.select(hour, F.col("_to").alias("address"), F.col("value").alias("v")))
        .groupBy("address", "hour_ts")
        .agg(F.sum("v").alias("net"))
    )
    got = _balances(spark).select("address", "hour_ts", "net")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, union_form.collect()))


def test_cumulative_balance_hand_computed(spark):
    got = {
        (r["contract_address"], r["address"], r["hour_ts"]): (
            r["balance"], r["sent"], r["received"]
        )
        for r in _balances(spark).collect()
    }
    assert got == {
        (TOKEN, "wallets/a", 3600): (-6.0, 1, 4.0),   # -10 + 4
        (TOKEN, "wallets/a", 7200): (-8.0, 1, None),  # cumulative
        (TOKEN, "wallets/b", 3600): (6.0, 1, 10.0),
        # +2 (self-transfer nets out, counts once as sent, +9 received)
        (TOKEN, "wallets/c", 7200): (2.0, 1, 11.0),
    }


def test_forward_fill_matches_crossjoin_reference(spark):
    # Densified balances must equal the reference's crossJoin + left-outer
    # densification (WalletEnricher.scala:27-37): every wallet of a token
    # gets every hour of that token from its first observation on.
    rows = [
        ("wallets/x", "wallets/a", 10.0, "3600"),
        ("wallets/y", "wallets/b", 5.0, "7200"),
        ("wallets/x", "wallets/a", 20.0, "10800"),
    ]
    out = wallet_balance_changelogs(
        _df(spark, rows), fixtures.token_metadata_df(spark), densify=True
    )
    got = {
        r["address"]: {ts: v["balance"] for ts, v in r["balanceChangeLogs"].items()}
        for r in out.collect()
    }
    assert got == {
        "a": {3600: 10.0, 7200: 10.0, 10800: 30.0},
        "b": {7200: 5.0, 10800: 5.0},  # nothing before its first hour
        "x": {3600: -10.0, 7200: -10.0, 10800: -30.0},
        "y": {7200: -5.0, 10800: -5.0},
    }


def _dense(spark, rows, token=TOKEN):
    out = wallet_balance_changelogs(
        _df(spark, rows, token), fixtures.token_metadata_df(spark), densify=True
    )
    return {
        r["address"]: {ts: (v["isWhale"], v["balance"]) for ts, v in r["balanceChangeLogs"].items()}
        for r in out.collect()
    }


def test_densify_wallet_first_seen_after_token_start(spark):
    # c first moves at 14400, two token hours after the token's first;
    # its map starts there. Hour 10800 has no transfer of the token, so
    # no wallet gets it.
    got = _dense(
        spark,
        [
            ("wallets/x", "wallets/a", 10.0, "3600"),
            ("wallets/y", "wallets/b", 5.0, "7200"),
            ("wallets/z", "wallets/c", 7.0, "14400"),
            ("wallets/a", "wallets/c", 3.0, "18000"),
        ],
    )
    assert {ts: b for ts, (_, b) in got["c"].items()} == {14400: 7.0, 18000: 10.0}
    assert {ts: b for ts, (_, b) in got["a"].items()} == {
        3600: 10.0, 7200: 10.0, 14400: 10.0, 18000: 7.0
    }
    assert {ts: b for ts, (_, b) in got["b"].items()} == {7200: 5.0, 14400: 5.0, 18000: 5.0}


def test_densify_whale_flag_on_carried_hours(spark):
    # VALAS's whale line is 500: a carried balance keeps its flag, the
    # exact line included, and a drop below it clears the flag from
    # that hour on
    got = _dense(
        spark,
        [
            ("wallets/x", "wallets/a", 500.0, "3600"),
            ("wallets/y", "wallets/b", 1.0, "7200"),
            ("wallets/a", "wallets/y", 200.0, "10800"),
            ("wallets/z", "wallets/w", 1.0, "14400"),
        ],
    )
    assert got["a"] == {
        3600: (True, 500.0),
        7200: (True, 500.0),
        10800: (False, 300.0),
        14400: (False, 300.0),
    }


def test_densify_token_without_metadata_is_never_whale(spark):
    got = _dense(
        spark,
        [("wallets/x", "wallets/a", 1e12, "3600"), ("wallets/y", "wallets/b", 1.0, "7200")],
        token="0x" + "ee" * 20,
    )
    assert got["a"] == {3600: (False, 1e12), 7200: (False, 1e12)}
    assert {w for cells in got.values() for w, _ in cells.values()} == {False}


def test_hourly_net_flow_zero_value_and_gap(spark):
    out = _balances(
        spark,
        [("wallets/a", "wallets/b", 0.0, "3600"), ("wallets/a", "wallets/b", 1.0, "10900")],
    )
    hours = sorted({r["hour_ts"] for r in out.collect()})
    assert hours == [3600, 10800]  # hour 7200 absent (gap preserved, no fill here)
