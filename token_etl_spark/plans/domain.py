"""Token-ETL domain semantics re-expressed over the driver's ``events``
table (user_id ≈ wallet, value ≈ transfer value, ts ≈ transact_at,
'purchase' ≈ outflow). Each query is the driver-table twin of a
reference metric (SURVEY §2.4-§2.5); the exact domain-schema variants run
over generated fixtures in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window as W

from token_etl_spark.functions.timeops import (
    DAY,
    HOUR,
    bucket,
    changelog,
    hour_bucket,
    unix_seconds,
)
from token_etl_spark.operators.sketch import hll_alpha_m2
from token_etl_spark.operators.assemble import assemble_on_key
from token_etl_spark.plans.base import SQL_DAY, SQL_HOUR, QuerySpec, t

HOUR_TS = SQL_HOUR.format(ts="ts")
DAY_TS = SQL_DAY.format(ts="ts")


def _hour(ev: DataFrame) -> DataFrame:
    return ev.withColumn("hour_ts", bucket(unix_seconds("ts"), HOUR))


# --- A5: hourly trading volume --------------------------------------------

def q_hourly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _hour(t(spark, sf_dir, "events"))
    return ev.groupBy("hour_ts").agg(F.sum("value").alias("trading_volume"))


SQL_HOURLY_VOLUME = f"""
SELECT {HOUR_TS} AS hour_ts, sum(value) AS trading_volume
FROM events GROUP BY 1
"""


# --- U1+A1: signed flow per (hour, user) ----------------------------------

def _signed():
    # Built lazily — Column construction needs an active SparkContext,
    # and this module must import cleanly before any session exists.
    return F.when(F.col("event_type") == "purchase", -F.col("value")).otherwise(F.col("value"))


SQL_SIGNED = "CASE WHEN event_type = 'purchase' THEN -value ELSE value END"


def q_hourly_user_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _hour(t(spark, sf_dir, "events"))
    return ev.groupBy("hour_ts", "user_id").agg(F.sum(_signed()).alias("net_flow"))


SQL_HOURLY_USER_FLOW = f"""
SELECT {HOUR_TS} AS hour_ts, user_id, sum({SQL_SIGNED}) AS net_flow
FROM events GROUP BY 1, 2
"""


# --- W1: cumulative running balance per user ------------------------------

def q_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    flows = q_hourly_user_flow(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return flows.select(
        "user_id", "hour_ts", F.sum("net_flow").over(w).alias("balance")
    )


SQL_RUNNING_BALANCE = f"""
WITH flows AS (
  SELECT {HOUR_TS} AS hour_ts, user_id, sum({SQL_SIGNED}) AS net_flow
  FROM events GROUP BY 1, 2)
SELECT user_id, hour_ts,
       sum(net_flow) OVER (PARTITION BY user_id ORDER BY hour_ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
FROM flows
"""


# --- W2: lag(1) previous balance ------------------------------------------

def q_prev_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    balances = q_running_balance(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("hour_ts")
    return balances.withColumn("pre_balance", F.lag("balance", 1).over(w))


SQL_PREV_BALANCE = f"""
WITH flows AS (
  SELECT {HOUR_TS} AS hour_ts, user_id, sum({SQL_SIGNED}) AS net_flow
  FROM events GROUP BY 1, 2),
balances AS (
  SELECT user_id, hour_ts,
         sum(net_flow) OVER (PARTITION BY user_id ORDER BY hour_ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
  FROM flows)
SELECT user_id, hour_ts, balance,
       lag(balance, 1) OVER (PARTITION BY user_id ORDER BY hour_ts) AS pre_balance
FROM balances
"""


# --- A3: tx count per day --------------------------------------------------

def q_tx_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(bucket(unix_seconds("ts"), DAY).alias("day_ts")).agg(
        F.count("*").alias("tx_count")
    )


SQL_TX_PER_DAY = f"""
SELECT {DAY_TS} AS day_ts, count(*) AS tx_count FROM events GROUP BY 1
"""


# --- A4: the avg-tx-per-day /24 quirk (BaseEnricher.scala:213-220) ---------

def q_avg_tx_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = q_tx_per_day(spark, sf_dir)
    return daily.select(
        "day_ts", (F.col("tx_count") / F.lit(24.0)).alias("avg_tx_per_day")
    )


SQL_AVG_TX_PER_DAY = f"""
SELECT {DAY_TS} AS day_ts, count(*) / 24.0 AS avg_tx_per_day FROM events GROUP BY 1
"""


# --- A6: distinct active users per hour (exact) ----------------------------

def q_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _hour(t(spark, sf_dir, "events"))
    return ev.groupBy("hour_ts").agg(F.countDistinct("user_id").alias("active_users"))


SQL_HOURLY_ACTIVE_USERS = f"""
SELECT {HOUR_TS} AS hour_ts, count(DISTINCT user_id) AS active_users
FROM events GROUP BY 1
"""


# --- P7+A2: holder count (positive running balance) per hour ---------------

def q_holder_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    balances = q_running_balance(spark, sf_dir)
    return balances.groupBy("hour_ts").agg(
        F.sum((F.col("balance") > 0).cast("int")).cast("long").alias("holder_count")
    )


SQL_HOLDER_COUNT = f"""
WITH flows AS (
  SELECT {HOUR_TS} AS hour_ts, user_id, sum({SQL_SIGNED}) AS net_flow
  FROM events GROUP BY 1, 2),
balances AS (
  SELECT user_id, hour_ts,
         sum(net_flow) OVER (PARTITION BY user_id ORDER BY hour_ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
  FROM flows)
SELECT hour_ts, CAST(sum(CASE WHEN balance > 0 THEN 1 ELSE 0 END) AS BIGINT) AS holder_count
FROM balances GROUP BY hour_ts
"""


# --- F5+A2: whale count (balance over threshold) per hour ------------------

WHALE_THRESHOLD = 5000.0


def q_whale_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    balances = q_running_balance(spark, sf_dir)
    return balances.groupBy("hour_ts").agg(
        F.sum((F.col("balance") >= WHALE_THRESHOLD).cast("int")).cast("long").alias("whale_count")
    )


SQL_WHALE_COUNT = f"""
WITH flows AS (
  SELECT {HOUR_TS} AS hour_ts, user_id, sum({SQL_SIGNED}) AS net_flow
  FROM events GROUP BY 1, 2),
balances AS (
  SELECT user_id, hour_ts,
         sum(net_flow) OVER (PARTITION BY user_id ORDER BY hour_ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
  FROM flows)
SELECT hour_ts, CAST(sum(CASE WHEN balance >= {WHALE_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS whale_count
FROM balances GROUP BY hour_ts
"""


# --- J6 intent: per-key metric assembly via explicit-key reduce join -------

def q_assemble_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tx = ev.groupBy("event_type").agg(F.count("*").alias("tx_count"))
    vol = ev.groupBy("event_type").agg(F.sum("value").alias("total_volume"))
    users = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("active_users"))
    avg_v = ev.groupBy("event_type").agg(F.avg("value").alias("avg_value"))
    return assemble_on_key([tx, vol, users, avg_v], key="event_type")


SQL_ASSEMBLE_METRICS = """
SELECT event_type, count(*) AS tx_count, sum(value) AS total_volume,
       count(DISTINCT user_id) AS active_users, avg(value) AS avg_value
FROM events GROUP BY event_type
"""


# --- streaming-equivalent tumbling window (batch form of §2.9) -------------

def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("volume"))
        .select(
            unix_seconds(F.col("w.start")).alias("hour_ts"),
            "event_type",
            "n_events",
            "volume",
        )
    )


SQL_TUMBLING_HOURLY = f"""
SELECT {HOUR_TS} AS hour_ts, event_type, count(*) AS n_events, sum(value) AS volume
FROM events GROUP BY 1, 2
"""


# --- sessionization: gap-based session windows (W1+W2 composition) ---------

SESSION_GAP = 1800  # 30 min


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gap-based sessionization: a new session starts when the
    gap to the user's previous event exceeds SESSION_GAP; session id =
    running count of session starts. Composed from lag + cumulative-sum
    windows (the batch twin of Structured Streaming's session windows).
    """
    ev = t(spark, sf_dir, "events")
    base = ev.select("user_id", unix_seconds("ts").alias("ts_sec"), "value")
    w = W.partitionBy("user_id").orderBy("ts_sec")
    with_gap = base.withColumn("prev_ts", F.lag("ts_sec").over(w)).withColumn(
        "is_new_session",
        (F.col("prev_ts").isNull() | ((F.col("ts_sec") - F.col("prev_ts")) > SESSION_GAP)).cast("int"),
    )
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = with_gap.withColumn("session_id", F.sum("is_new_session").over(wcum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_sec").alias("session_start"),
        F.max("ts_sec").alias("session_end"),
        F.sum("value").alias("session_value"),
    )


SQL_SESSIONIZATION = f"""
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value FROM events),
gapped AS (
  SELECT user_id, ts_sec, value,
         lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) AS prev_ts
  FROM base),
flagged AS (
  SELECT user_id, ts_sec, value,
         CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > {SESSION_GAP} THEN 1 ELSE 0 END AS is_new
  FROM gapped),
sessions AS (
  SELECT user_id, ts_sec, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_sec) AS session_start, max(ts_sec) AS session_end,
       sum(value) AS session_value
FROM sessions GROUP BY user_id, session_id
"""


# --- A7/A8: multi-agg with sorted collect_set rollup -----------------------

def q_daily_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8 rollup (countDistinct + sorted collect_set per day, ref
    s/etl/BaseEnricher.scala:345-346,364-368). The sorted set is emitted
    as a '|'-joined STRING: the driver's value hasher canonicalizes rows
    through a pandas hash table, which cannot hash list cells (observed
    r2: "TypeError: unhashable type: 'list'"), so the contract column is
    the scalar rendering — lossless for event_type values, which contain
    no '|'. The raw-array form stays exact-value-tested in
    tests/test_array_contracts.py."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(bucket(unix_seconds("ts"), DAY).alias("day_ts")).agg(
        F.countDistinct("event_type").alias("n_types"),
        F.concat_ws("|", F.sort_array(F.collect_set("event_type"))).alias("types"),
    )


def q_daily_event_types_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-array sibling of ``q_daily_event_types`` (pytest-only — the
    driver gate needs scalar columns; exact list values are asserted in
    tests/test_array_contracts.py)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(bucket(unix_seconds("ts"), DAY).alias("day_ts")).agg(
        F.countDistinct("event_type").alias("n_types"),
        F.sort_array(F.collect_set("event_type")).alias("types"),
    )


SQL_DAILY_EVENT_TYPES = f"""
SELECT {DAY_TS} AS day_ts,
       count(DISTINCT event_type) AS n_types,
       array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types
FROM events GROUP BY 1
"""


# --- A11: changelog collapse-to-map --------------------------------------

def q_changelog_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse hourly volumes into the Map<ts,volume> changelog, then
    interrogate the MAP ITSELF (size, key extrema, point lookups via
    element_at) — map values are not portably hashable across engines,
    but scalars derived from the map are, so this proves the collapse
    end-to-end under the driver's hash gate. The raw-map form stays
    exact-value-tested in pytest."""
    hourly = q_hourly_volume(spark, sf_dir)
    m = hourly.select(changelog("hour_ts", "trading_volume", "m"))
    first_key = F.array_min(F.map_keys("m"))
    last_key = F.array_max(F.map_keys("m"))
    return m.select(
        F.size("m").cast("long").alias("n_entries"),
        first_key.alias("first_ts"),
        last_key.alias("last_ts"),
        F.element_at("m", first_key).alias("first_volume"),
        F.element_at("m", last_key).alias("last_volume"),
    )


SQL_CHANGELOG_MAP = f"""
WITH hourly AS (SELECT {HOUR_TS} AS hour_ts, sum(value) AS tv FROM events GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_entries,
       min(hour_ts) AS first_ts,
       max(hour_ts) AS last_ts,
       arg_min(tv, hour_ts) AS first_volume,
       arg_max(tv, hour_ts) AS last_volume
FROM hourly
"""


def q_changelog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map machinery round-trip, oracle-checked: hourly volumes are
    collapsed into a Map<ts,volume> changelog (map_from_entries over
    sorted entries — the A11 pattern) then exploded back to rows via
    map_entries. Proves key dedup/ordering semantics with a plain-row
    output the hash compare can canonicalize (the map-typed
    evt_changelog_map stays rows-only; ROADMAP notes driver map-hash
    corner cases)."""
    hourly = q_hourly_volume(spark, sf_dir)
    m = hourly.select(changelog("hour_ts", "trading_volume", "m"))
    e = m.select(F.explode(F.map_entries("m")).alias("kv"))
    return e.select(
        F.col("kv.key").alias("hour_ts"), F.col("kv.value").alias("trading_volume")
    )


SQL_CHANGELOG_ROUNDTRIP = """
SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_ts,
       sum(value) AS trading_volume
FROM events
GROUP BY 1
"""


def q_wallet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL wallet-enricher pipeline run over driver data: events are
    mapped onto the transfers edge shape (event_type partitions as the
    'token', user ring as counterparty), then the full balance/whale
    changelog pipeline produces TOKEN_WALLETS documents
    (WalletEnricher.scala:23-81 semantics). The map-typed changelog is
    exploded back to (key, ts, isWhale, balance) rows so the driver can
    hash-compare against a full SQL replay of the pipeline — map
    construction/ordering itself is proven by evt_changelog_roundtrip
    and tests/test_pipelines.py."""
    from token_etl_spark.pipelines.wallets import wallet_balance_changelogs

    ev = t(spark, sf_dir, "events")
    transfers = ev.select(
        F.concat_ws("_", "event_id", "user_id").alias("_key"),
        F.concat(F.lit("wallets/u"), F.col("user_id").cast("string")).alias("_from"),
        F.concat(F.lit("wallets/u"), ((F.col("user_id") + 1) % 50).cast("string")).alias("_to"),
        F.col("event_type").alias("contract_address"),
        F.concat(F.lit("0x"), F.col("event_id").cast("string")).alias("transaction_hash"),
        F.lit(0).alias("log_index"),
        F.col("event_id").cast("int").alias("block_number"),
        F.col("value"),
        unix_seconds("ts").cast("string").alias("transact_at"),
    )
    meta = spark.createDataFrame(
        [(et, 100000.0, 0.001) for et in ["click", "view", "purchase", "signup", "error"]],
        "contract_address string, circulating_supply double, whale_threshold double",
    )
    out = wallet_balance_changelogs(transfers, meta, densify=False)
    e = out.select("_key", "address", F.explode("balanceChangeLogs").alias("ts", "v"))
    return e.select(
        "_key",
        "address",
        "ts",
        F.col("v.isWhale").alias("isWhale"),
        F.col("v.balance").alias("balance"),
    )


SQL_WALLET_PIPELINE = """
WITH base AS (
  SELECT event_type AS contract_address,
         CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hts,
         'u' || CAST(user_id AS VARCHAR) AS from_a,
         'u' || CAST((user_id + 1) % 50 AS VARCHAR) AS to_a,
         value
  FROM events),
flows AS (
  SELECT contract_address, hts, address, sum(sv) AS hourly_balance
  FROM (
    SELECT contract_address, hts, from_a AS address, -value AS sv FROM base
    UNION ALL
    SELECT contract_address, hts, to_a AS address, value AS sv FROM base) u
  GROUP BY 1, 2, 3),
balances AS (
  SELECT contract_address, address, hts,
         sum(hourly_balance) OVER (PARTITION BY contract_address, address
             ORDER BY hts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
  FROM flows)
SELECT contract_address || '_' || address AS _key,
       address,
       hts AS ts,
       balance >= (100000.0 * 0.001) AS isWhale,
       balance
FROM balances
"""


# --- continuous-aggregate merge read ---------------------------------------

#: 2024-01-21 00:00 UTC — hour-aligned, mid-range of the 30-day events
#: window, so both the cold (rollup) and hot (raw) sides are non-empty
#: at every SF.
ROLLUP_CUTOFF_TS = 1_705_795_200


def q_rollup_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate, serving path
    (operators/rollup.py): hours before the cutoff come from the
    materialized hourly rollup (simulated here by rolling up the cold
    events in-plan — a pipeline would read the persisted table), the hot
    tail is aggregated from raw. The union is EXACTLY the full hourly
    aggregation, so the oracle is the plain GROUP BY — the same
    result-transparency contract as ``rel_bloom_join``. The raw-side
    filters compare the timestamp column to literals (pushed-down range
    scans; cold files pruned by parquet min/max — asserted in
    tests/test_rollup.py)."""
    from token_etl_spark.operators.rollup import hourly_rollup, rollup_merge_read

    ev = t(spark, sf_dir, "events")
    cold_src = ev.where(
        F.col("ts") < F.timestamp_seconds(F.lit(ROLLUP_CUTOFF_TS))
    )
    rollup = hourly_rollup(cold_src)
    return rollup_merge_read(rollup, ev, ROLLUP_CUTOFF_TS)


SQL_ROLLUP_MERGE_READ = f"""
SELECT {HOUR_TS} AS hour_ts, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(value) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY 1, 2
"""


def q_rollup_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per (hour, event_type) served from
    the continuous aggregate's HLL register column: two shard rollups
    (user_id parity halves) are built independently, merged by
    element-wise register max, and estimated at read time
    (operators/rollup.py hourly_rollup_hll / merge_hll_rollups /
    hll_estimate_from_regs). The oracle computes registers in ONE pass —
    equal to the shard-merge by the HLL merge law (max over any
    partition = max over the whole; pinned in tests) — then replays the
    dense-array fold in bucket order, so the estimate hash-matches
    bit-for-bit. ``exact_users`` rides along for observability, as in
    ``ext_hll_distinct``."""
    from token_etl_spark.operators.rollup import (
        hll_estimate_from_regs,
        hourly_rollup_hll,
        merge_hll_rollups,
    )

    ev = t(spark, sf_dir, "events")
    a = hourly_rollup_hll(ev.where(F.col("user_id") % 2 == 0))
    b = hourly_rollup_hll(ev.where(F.col("user_id") % 2 == 1))
    merged = merge_hll_rollups(a, b)
    exact = ev.groupBy(
        hour_bucket(F.unix_timestamp(F.col("ts"))).alias("hour_ts"), "event_type"
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    return (
        merged.join(exact, ["hour_ts", "event_type"])
        .select(
            "hour_ts",
            "event_type",
            "exact_users",
            F.round(hll_estimate_from_regs("hll_regs"), 6).alias("approx_users"),
        )
    )


_HLL_AM2_256 = hll_alpha_m2(256)

#: ln(256/V) literal table (operators/rollup.py hll_ln_table) — the
#: linear-counting correction with ln computed once in Python, never at
#: runtime in either engine.
def _hll_ln_tab() -> str:
    from token_etl_spark.operators.rollup import hll_ln_table

    return ", ".join(repr(x) for x in hll_ln_table(256))


_HLL_LN_TAB = _hll_ln_tab()

SQL_ROLLUP_HLL_USERS = f"""
WITH h AS (
  SELECT {HOUR_TS} AS hour_ts, event_type,
         CAST('0x' || substr(md5('hllb:' || CAST(user_id AS VARCHAR)), 1, 6) AS BIGINT) % 256 AS bucket,
         CAST('0x' || substr(md5('hllr:' || CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS hv
  FROM events),
r AS (
  SELECT hour_ts, event_type, bucket,
         max(CASE WHEN hv = 0 THEN 49 ELSE 49 - length(bin(hv)) END) AS m_j
  FROM h GROUP BY 1, 2, 3),
g AS (
  SELECT hour_ts, event_type,
         list(bucket ORDER BY bucket) AS bs, list(m_j ORDER BY bucket) AS rs
  FROM r GROUP BY 1, 2),
d AS (
  SELECT hour_ts, event_type,
         list_transform(range(0, 256),
                        b -> coalesce(rs[list_position(bs, b)], 0)) AS regs
  FROM g),
s AS (
  SELECT hour_ts, event_type,
         list_aggregate(list_transform(regs, x -> 1.0 / CAST(1::BIGINT << x AS DOUBLE)),
                        'sum') AS ssum,
         len(list_filter(regs, x -> x = 0)) AS v_zero
  FROM d),
x AS (
  SELECT {HOUR_TS} AS hour_ts, event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1, 2)
SELECT s.hour_ts, s.event_type, x.exact_users,
       round(CASE WHEN v_zero > 0 AND ({_HLL_AM2_256!r} / ssum) <= CAST(640.0 AS DOUBLE)
                  THEN CAST(256.0 AS DOUBLE) * ([{_HLL_LN_TAB}])[CAST(v_zero AS INT)]
                  ELSE {_HLL_AM2_256!r} / ssum END, 6) AS approx_users
FROM s JOIN x USING (hour_ts, event_type)
"""


# --- funnel + cohort retention ----------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WINDOW_S = 86_400


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel view → click → purchase within 24h
    (operators/funnel.py funnel_counts, anchored-first semantics —
    docstring there). Since r7 the reach plan is the single-scan
    ``funnel_reach_onepass`` (one events pass + one user-key shuffle,
    greedy fold in ``F.aggregate``); the oracle stays the chained
    filtered-min CTEs — the equivalence the one-pass form is pinned
    against. All comparisons in integer microseconds."""
    from token_etl_spark.operators.funnel import funnel_counts

    ev = t(spark, sf_dir, "events")
    out = funnel_counts(ev, FUNNEL_STEPS, window_s=FUNNEL_WINDOW_S)
    return out.select(
        "step", "step_name", "n_users",
        F.round("pct_of_step1", 6).alias("pct_of_step1"),
    )


_FW_US = FUNNEL_WINDOW_S * 1_000_000

SQL_FUNNEL = f"""
WITH t1 AS (SELECT user_id AS u, min(epoch_us(ts)) AS t1
            FROM events WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1),
t2 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t2
       FROM events e JOIN t1 ON e.user_id = t1.u
       WHERE e.event_type = '{FUNNEL_STEPS[1]}'
         AND epoch_us(e.ts) > t1.t1 AND epoch_us(e.ts) <= t1.t1 + {_FW_US}
       GROUP BY 1),
t3 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t3
       FROM events e JOIN t1 ON e.user_id = t1.u JOIN t2 ON e.user_id = t2.u
       WHERE e.event_type = '{FUNNEL_STEPS[2]}'
         AND epoch_us(e.ts) > t2.t2 AND epoch_us(e.ts) <= t1.t1 + {_FW_US}
       GROUP BY 1),
c AS (SELECT CAST((SELECT count(*) FROM t1) AS BIGINT) AS n1,
             CAST((SELECT count(*) FROM t2) AS BIGINT) AS n2,
             CAST((SELECT count(*) FROM t3) AS BIGINT) AS n3)
SELECT CAST(1 AS BIGINT) AS step, '{FUNNEL_STEPS[0]}' AS step_name, n1 AS n_users,
       round(CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS pct_of_step1 FROM c
UNION ALL
SELECT CAST(2 AS BIGINT), '{FUNNEL_STEPS[1]}', n2,
       round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) FROM c
UNION ALL
SELECT CAST(3 AS BIGINT), '{FUNNEL_STEPS[2]}', n3,
       round(CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) FROM c
"""


def q_funnel_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-USER funnel reach times (user, t1, t2, t3) from the
    single-scan ``funnel_reach_onepass`` — the user-level frame the
    rollup aggregates away, driver-proven directly: the oracle replays
    the CHAINED filtered-min semantics (t1/t2/t3 CTEs LEFT JOINed on the
    anchored users), so a green row certifies one-pass ≡ chained on
    every user, not just the three step counts."""
    from token_etl_spark.operators.funnel import funnel_reach_onepass

    ev = t(spark, sf_dir, "events")
    return funnel_reach_onepass(ev, FUNNEL_STEPS, window_s=FUNNEL_WINDOW_S)


SQL_FUNNEL_REACH = f"""
WITH t1 AS (SELECT user_id AS u, min(epoch_us(ts)) AS t1
            FROM events WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1),
t2 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t2
       FROM events e JOIN t1 ON e.user_id = t1.u
       WHERE e.event_type = '{FUNNEL_STEPS[1]}'
         AND epoch_us(e.ts) > t1.t1 AND epoch_us(e.ts) <= t1.t1 + {_FW_US}
       GROUP BY 1),
t3 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t3
       FROM events e JOIN t1 ON e.user_id = t1.u JOIN t2 ON e.user_id = t2.u
       WHERE e.event_type = '{FUNNEL_STEPS[2]}'
         AND epoch_us(e.ts) > t2.t2 AND epoch_us(e.ts) <= t1.t1 + {_FW_US}
       GROUP BY 1)
SELECT t1.u AS user, t1.t1 AS t1, t2.t2 AS t2, t3.t3 AS t3
FROM t1 LEFT JOIN t2 ON t1.u = t2.u LEFT JOIN t3 ON t1.u = t3.u
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle (operators/funnel.py
    retention_cohorts): users bucketed by first-activity week, counted
    in each later active week. The one double division (micros/week) is
    the same IEEE op in both engines."""
    from token_etl_spark.operators.funnel import retention_cohorts

    ev = t(spark, sf_dir, "events")
    return retention_cohorts(ev).select("cohort", "period_offset", "n_users")


SQL_RETENTION = """
WITH active AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 604800000000.0) AS BIGINT) AS period
  FROM events),
first AS (SELECT u, min(period) AS cohort FROM active GROUP BY 1)
SELECT cohort, period - cohort AS period_offset,
       CAST(count(DISTINCT active.u) AS BIGINT) AS n_users
FROM active JOIN first ON active.u = first.u
GROUP BY 1, 2
"""


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly screen (operators/profile.zscore_outliers)
    over events: rows whose value sits more than 3 sample standard
    deviations from their event_type's mean — one combinable stats
    aggregation broadcast-joined back, no fact-table window. The
    declared output keeps only flagged rows with z rounded 6dp (the
    distributed-accumulation caveat the operator docstring declares)."""
    from token_etl_spark.operators.profile import zscore_outliers

    ev = t(spark, sf_dir, "events")
    out = zscore_outliers(ev, "value", ["event_type"], threshold=3.0)
    return out.where("is_outlier").select(
        "event_id", "event_type", "value", F.round("z", 6).alias("z")
    )


SQL_ANOMALY_ZSCORE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY 1)
SELECT event_id, event_type, value, round((value - mu) / sd, 6) AS z
FROM events JOIN stats USING (event_type)
WHERE sd > 0 AND abs((value - mu) / sd) > 3
"""


def q_anomaly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier screen (operators/profile.mad_outliers):
    modified z-score over (median, MAD) per event_type — the
    heavy-tail-safe twin of evt_anomaly_zscore, and the deterministic
    one (order statistics, no accumulation-order caveat)."""
    from token_etl_spark.operators.profile import mad_outliers

    ev = t(spark, sf_dir, "events")
    out = mad_outliers(ev, "value", ["event_type"], threshold=3.5)
    return out.where("is_outlier").select(
        "event_id", "event_type", "value", F.round("robust_z", 6).alias("robust_z")
    )


SQL_ANOMALY_ROBUST = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY 1),
mad AS (
  SELECT event_type, quantile_cont(abs(value - m), 0.5) AS d
  FROM events JOIN med USING (event_type) GROUP BY 1)
SELECT event_id, event_type, value,
       round((value - m) / (1.4826 * d), 6) AS robust_z
FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
WHERE d > 0 AND abs((value - m) / (1.4826 * d)) > 3.5
"""


SPECS = [
    QuerySpec("evt_hourly_volume", q_hourly_volume, SQL_HOURLY_VOLUME, ("domain", "agg")),
    QuerySpec("evt_funnel", q_funnel, SQL_FUNNEL, ("domain", "funnel", "agg")),
    QuerySpec("evt_funnel_reach", q_funnel_reach, SQL_FUNNEL_REACH, ("domain", "funnel", "agg")),
    QuerySpec("evt_retention_cohorts", q_retention_cohorts, SQL_RETENTION, ("domain", "funnel", "agg")),
    QuerySpec("evt_rollup_merge_read", q_rollup_merge_read, SQL_ROLLUP_MERGE_READ, ("domain", "agg", "rollup")),
    QuerySpec("evt_rollup_hll_users", q_rollup_hll_users, SQL_ROLLUP_HLL_USERS, ("domain", "rollup", "sketch", "agg-approx")),
    QuerySpec("evt_hourly_user_flow", q_hourly_user_flow, SQL_HOURLY_USER_FLOW, ("domain", "agg")),
    QuerySpec("evt_running_balance", q_running_balance, SQL_RUNNING_BALANCE, ("domain", "window-cumsum"), bench=True),
    QuerySpec("evt_prev_balance", q_prev_balance, SQL_PREV_BALANCE, ("domain", "window-lag")),
    QuerySpec("evt_tx_per_day", q_tx_per_day, SQL_TX_PER_DAY, ("domain", "agg")),
    QuerySpec("evt_avg_tx_per_day", q_avg_tx_per_day, SQL_AVG_TX_PER_DAY, ("domain", "agg-quirk")),
    QuerySpec("evt_hourly_active_users", q_hourly_active_users, SQL_HOURLY_ACTIVE_USERS, ("domain", "agg-distinct"), bench=True),
    QuerySpec("evt_holder_count", q_holder_count, SQL_HOLDER_COUNT, ("domain", "predicate", "agg")),
    QuerySpec("evt_whale_count", q_whale_count, SQL_WHALE_COUNT, ("domain", "predicate", "agg")),
    QuerySpec("evt_assemble_metrics", q_assemble_metrics, SQL_ASSEMBLE_METRICS, ("domain", "join-assembly")),
    QuerySpec("evt_tumbling_hourly", q_tumbling_hourly, SQL_TUMBLING_HOURLY, ("domain", "window-tumbling")),
    QuerySpec("evt_daily_event_types", q_daily_event_types, SQL_DAILY_EVENT_TYPES, ("domain", "agg-collect")),
    QuerySpec("evt_sessionization", q_sessionization, SQL_SESSIONIZATION, ("domain", "window-session"), bench=True),
    QuerySpec("evt_changelog_map", q_changelog_map, SQL_CHANGELOG_MAP, ("domain", "map-collapse")),
    QuerySpec("evt_changelog_roundtrip", q_changelog_roundtrip, SQL_CHANGELOG_ROUNDTRIP, ("domain", "map-collapse")),
    QuerySpec("evt_wallet_pipeline", q_wallet_pipeline, SQL_WALLET_PIPELINE, ("domain", "pipeline")),
    QuerySpec("evt_anomaly_zscore", q_anomaly_zscore, SQL_ANOMALY_ZSCORE, ("domain", "agg", "quality")),
    QuerySpec("evt_anomaly_robust", q_anomaly_robust, SQL_ANOMALY_ROBUST, ("domain", "agg-percentile", "quality")),
]
