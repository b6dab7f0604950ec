"""Micro-operator coverage queries (SURVEY §2.1-§2.3, §2.6-§2.8).

One query per operator family the reference exercises: pushdown scans,
NOT-IN blacklists, prefix/boolean predicates, null repair, composite-key
left-outer + crossJoin scaffolds, explode-array joins, semi/anti joins,
pivot, union-distinct, rank windows, and the as-of join extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window as W

from token_etl_spark.functions.keys import add_collection_prefix, strip_collection_prefix
from token_etl_spark.operators.asof import asof_join
from token_etl_spark.plans.base import QuerySpec, t


# --- S4/P1/P5: pushdown scan: filter + projection reach the parquet scan ---

def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12").cast("timestamp"))
    ).select("event_id", "user_id", "value")


SQL_SCAN_PUSHDOWN = """
SELECT event_id, user_id, value FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'
"""


# --- P2: NOT-IN blacklist filter (BaseEnricher.scala:62-66) ----------------

def q_notin_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(~F.col("l_returnflag").isin("R"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


SQL_NOTIN_BLACKLIST = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem WHERE l_returnflag NOT IN ('R')
GROUP BY l_returnflag, l_linestatus
"""


# --- P7/P8: boolean-combination derived flag (BaseEnricher.scala:141-155) --

def q_bool_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    flag = F.when(
        (F.col("c_acctbal") > 5000) | ((F.col("c_acctbal") < 0) & (F.col("c_mktsegment") == "BUILDING")),
        F.lit(True),
    ).otherwise(F.lit(False))
    return (
        c.withColumn("vip", flag)
        .groupBy("c_mktsegment", "vip")
        .agg(F.count("*").alias("n"), F.sum("c_acctbal").alias("total_bal"))
    )


SQL_BOOL_FLAGS = """
SELECT c_mktsegment,
       CASE WHEN c_acctbal > 5000 OR (c_acctbal < 0 AND c_mktsegment = 'BUILDING')
            THEN TRUE ELSE FALSE END AS vip,
       count(*) AS n, sum(c_acctbal) AS total_bal
FROM customer GROUP BY 1, 2
"""


# --- F1/F2/P4: vertex-prefix key round-trip + startswith -------------------

def q_prefix_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return (
        c.withColumn("vertex", add_collection_prefix("c_name"))
        .withColumn("stripped", strip_collection_prefix("vertex"))
        .filter(F.col("vertex").startswith("wallets/Customer"))
        .select("c_custkey", "vertex", "stripped")
    )


SQL_PREFIX_KEYS = """
SELECT c_custkey,
       'wallets/' || c_name AS vertex,
       split_part('wallets/' || c_name, '/', 2) AS stripped
FROM customer
WHERE ('wallets/' || c_name) LIKE 'wallets/Customer%'
"""


# --- P10/J3: left-outer + null repair (coalesce) ---------------------------

def q_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    return (
        c.join(spend, c.c_custkey == spend.o_custkey, "left_outer")
        .select("c_custkey", F.coalesce(F.col("spend"), F.lit(0.0)).alias("total_spend"))
    )


SQL_CUSTOMER_SPEND = """
SELECT c_custkey, coalesce(s.spend, 0.0) AS total_spend
FROM customer
LEFT JOIN (SELECT o_custkey, sum(o_totalprice) AS spend FROM orders GROUP BY 1) s
  ON c_custkey = s.o_custkey
"""


# --- J3/J4/P10: crossJoin scaffold + composite-key left-outer --------------
# (WalletEnricher.scala:27-37 densification shape, on driver tables)

def q_monthly_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100).select("c_custkey")
    months = o.select(F.date_trunc("month", F.col("o_orderdate")).alias("month")).distinct()
    monthly = (
        o.withColumn("month", F.date_trunc("month", F.col("o_orderdate")))
        .groupBy(F.col("o_custkey").alias("c_custkey"), "month")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    scaffold = c.crossJoin(F.broadcast(months))
    return scaffold.join(monthly, ["c_custkey", "month"], "left_outer").select(
        "c_custkey", "month", F.coalesce(F.col("spend"), F.lit(0.0)).alias("monthly_spend")
    )


SQL_MONTHLY_SCAFFOLD = """
WITH months AS (SELECT DISTINCT date_trunc('month', o_orderdate)::TIMESTAMP AS month FROM orders),
custs AS (SELECT c_custkey FROM customer WHERE c_custkey < 100),
monthly AS (
  SELECT o_custkey AS c_custkey, date_trunc('month', o_orderdate)::TIMESTAMP AS month,
         sum(o_totalprice) AS spend
  FROM orders GROUP BY 1, 2)
SELECT custs.c_custkey, months.month, coalesce(monthly.spend, 0.0) AS monthly_spend
FROM custs CROSS JOIN months
LEFT JOIN monthly ON custs.c_custkey = monthly.c_custkey AND months.month = monthly.month
"""


# --- J5: array-membership join via explode (BaseEnricher.scala:348-355) ----

def q_explode_word_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    words = part.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("word")
    )
    return (
        li.join(F.broadcast(words), li.l_partkey == words.p_partkey)
        .groupBy("word")
        .agg(F.sum("l_quantity").alias("total_qty"), F.count("*").alias("n_items"))
    )


SQL_EXPLODE_WORD_JOIN = """
SELECT word, sum(l_quantity) AS total_qty, count(*) AS n_items
FROM lineitem
JOIN (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part) w
  ON l_partkey = w.p_partkey
GROUP BY word
"""


# --- semi/anti joins (free capability per SURVEY §2.3 J7) ------------------

def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )


SQL_SEMI_JOIN = """
SELECT c_mktsegment, count(*) AS n_with_orders
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_mktsegment
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- U1/U2/A12: union + distinct ------------------------------------------

def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .union(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


SQL_UNION_DISTINCT = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


# --- salted (skew-resistant) aggregation -----------------------------------


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py salted_aggregate)
    under the correctness gate: lineitem grouped by l_returnflag — 3
    keys over 60k+ rows, exactly the hot-key shape the salt exists for —
    must equal the plain GROUP BY bit-for-bit. It does, deterministically,
    because every aggregate here is order-insensitive at the VALUE level:
    count/min/max trivially, and sum(l_quantity) because quantities are
    integral-valued doubles (1..50) whose sums stay exact integers in
    IEEE double regardless of accumulation order — so the per-salt
    partial sums recombine to the same bits the single-phase sum
    produces, and the DuckDB oracle is the plain aggregate. (A
    non-integral double sum would need rounding on both sides.)"""
    from token_etl_spark.operators.skew import salted_aggregate

    li = t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "n_rows": ("count", "l_orderkey"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        "sum_qty",
        F.col("n_rows").cast("long").alias("n_rows"),
        "min_price",
        "max_price",
    )


SQL_SALTED_AGG = """
SELECT l_returnflag,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(count(l_orderkey) AS BIGINT) AS n_rows,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py salted_join) under the gate:
    lineitem (big, salted) joins part (small, replicated ×16) on
    l_partkey, then aggregates brand revenue — identical to the plain
    join by construction (the salt column matches itself), proven
    against a plain-join oracle. The aggregate keeps the oracle frame
    small; revenue sums are rounded on both sides (non-integral
    doubles)."""
    from token_etl_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, pt.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey", n_salts=16
    )
    return joined.groupBy("p_brand").agg(
        F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_SALTED_JOIN = """
SELECT p_brand,
       round(sum(l_extendedprice), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
GROUP BY 1
"""


# --- full-outer join of two aggregates -------------------------------------


def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join coverage: per-nation customer counts (nations
    ≡ 0 mod 3) vs supplier counts (nations ≡ 0 mod 2). The modulus
    filters are deliberate: they guarantee BOTH null sides appear at
    every scale factor (a fixed acctbal threshold only does at one sf),
    so the outer semantics — null-preserving coalesce on the key, null
    counts on the missing side — are actually exercised. Scale shape:
    two map-side-combinable aggregates over nationkey (25 rows each),
    then a tiny-frame join; at a real scale both sides would broadcast,
    but full-outer cannot broadcast in Spark (both sides must preserve
    unmatched rows), so it shuffles — which is why the aggregates run
    FIRST and only 25-row frames reach the outer join."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cc = (
        c.filter(F.col("c_nationkey") % 3 == 0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    sc = (
        s.filter(F.col("s_nationkey") % 2 == 0)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return cc.join(sc, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        (F.col("n_customers").isNotNull() & F.col("n_suppliers").isNotNull()).alias(
            "in_both"
        ),
    )


SQL_FULL_OUTER = """
WITH cc AS (
  SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_customers
  FROM customer WHERE c_nationkey % 3 = 0 GROUP BY 1),
sc AS (
  SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_suppliers
  FROM supplier WHERE s_nationkey % 2 = 0 GROUP BY 1)
SELECT coalesce(cc.nationkey, sc.nationkey) AS nationkey,
       coalesce(cc.n_customers, 0) AS n_customers,
       coalesce(sc.n_suppliers, 0) AS n_suppliers,
       (cc.nationkey IS NOT NULL AND sc.nationkey IS NOT NULL) AS in_both
FROM cc FULL OUTER JOIN sc ON cc.nationkey = sc.nationkey
"""


# --- A10: pivot with explicit values (BaseEnricher.scala:430-435) ----------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PRIORITY_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


def q_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    pivoted = o.groupBy("o_orderstatus").pivot("o_orderpriority", PRIORITIES).count()
    cols = [F.col("o_orderstatus")] + [
        F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(a)
        for p, a in zip(PRIORITIES, PRIORITY_ALIASES)
    ]
    return pivoted.select(*cols)


SQL_PIVOT_PRIORITY = """
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS low
FROM orders GROUP BY o_orderstatus
"""


# --- W3 extension: rank window, top-k per group ----------------------------

def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


SQL_TOPK_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders WHERE o_custkey < 50) ranked
WHERE rank <= 3
"""


# --- SQL front door: the same engine via spark.sql over temp views ---------

def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demonstrates the SQL entry point: users can register the driver
    tables as views and run ANSI SQL — Catalyst produces the same plan
    as the DataFrame DSL (SURVEY §3: the reference's only IR is the
    Spark logical plan either way)."""
    t(spark, sf_dir, "events").createOrReplaceTempView("v_events")
    return spark.sql(
        """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               sum(value) AS total_value,
               avg(value) AS avg_value
        FROM v_events
        WHERE value > 10
        GROUP BY event_type
        """
    )


SQL_SQL_API = """
SELECT event_type, count(DISTINCT user_id) AS n_users,
       sum(value) AS total_value, avg(value) AS avg_value
FROM events WHERE value > 10 GROUP BY event_type
"""


# --- scalar function families (date / string / datediff) -------------------

def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        )
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
    )


SQL_DATE_PARTS = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
       count(*) AS n, sum(o_totalprice) AS total
FROM orders GROUP BY 1, 2, 3
"""


def q_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
    )


SQL_STRING_OPS = """
SELECT c_custkey,
       upper(c_name) AS upper_name,
       substring(c_name, 1, 8) AS name_prefix,
       CAST(length(c_name) AS BIGINT) AS name_len,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS masked
FROM customer
"""


def q_ship_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("delay_weeks", F.expr("datediff(l_shipdate, o_orderdate) div 7"))
        .groupBy("delay_weeks")
        .agg(F.count("*").alias("n"), F.avg(delay).alias("avg_delay_days"))
    )


SQL_SHIP_DELAY_HISTOGRAM = """
SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) // 7 AS delay_weeks,
       count(*) AS n,
       avg(date_diff('day', o_orderdate, l_shipdate)) AS avg_delay_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# --- as-of join (custom operator; composition of built-ins) ----------------

def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a declared surface: per-order
    sorted quantity array, folded sum (F.aggregate), filtered count
    (F.filter), element-wise transform (F.transform). The fold runs over
    the SORTED array so the double accumulation order is pinned — that is
    what makes the DuckDB list_aggregate oracle hash-match.

    The two array outputs are emitted as '|'-joined STRINGS: the driver's
    value hasher canonicalizes through a pandas hash table, which cannot
    hash list cells (observed r2: "TypeError: unhashable type: 'list'").
    Element rendering is pinned by casting each double to string on both
    engines (quantities are integral doubles, so both render "N.0"); the
    raw-array form stays exact-value-tested in
    tests/test_array_contracts.py."""
    li = t(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("qty_arr")
    )
    return arr.select(
        "l_orderkey",
        F.concat_ws("|", F.transform("qty_arr", lambda x: x.cast("string"))).alias("qty_arr"),
        F.aggregate("qty_arr", F.lit(0.0), lambda acc, x: acc + x).alias("qty_sum"),
        F.size(F.filter("qty_arr", lambda x: x >= 30.0)).cast("long").alias("n_big"),
        F.concat_ws(
            "|", F.transform("qty_arr", lambda x: (x * 2.0).cast("string"))
        ).alias("doubled"),
    )


def q_array_ops_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-array sibling of ``q_array_ops`` (pytest-only — the driver
    gate needs scalar columns; exact list values are asserted in
    tests/test_array_contracts.py)."""
    li = t(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("qty_arr")
    )
    return arr.select(
        "l_orderkey",
        F.col("qty_arr"),
        F.aggregate("qty_arr", F.lit(0.0), lambda acc, x: acc + x).alias("qty_sum"),
        F.size(F.filter("qty_arr", lambda x: x >= 30.0)).cast("long").alias("n_big"),
        F.transform("qty_arr", lambda x: x * 2.0).alias("doubled"),
    )


SQL_ARRAY_OPS = """
SELECT l_orderkey,
       array_to_string(list_transform(list_sort(list(l_quantity)),
                                      x -> CAST(x AS VARCHAR)), '|') AS qty_arr,
       list_aggregate(list_sort(list(l_quantity)), 'sum') AS qty_sum,
       len(list_filter(list_sort(list(l_quantity)), x -> x >= 30.0)) AS n_big,
       array_to_string(list_transform(list_sort(list(l_quantity)),
                                      x -> CAST(x * 2.0 AS VARCHAR)), '|') AS doubled
FROM lineitem
GROUP BY l_orderkey
"""


def q_range_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: for each click, the purchases by the same user
    within the following hour (count + min delay). The banded rewrite
    keeps the pairing an equi hash join (operators/asof.py range_join);
    the oracle states the range predicate directly."""
    from token_etl_spark.operators.asof import range_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = range_join(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts", lower=0, upper=3600
    )
    return joined.groupBy("click_id").agg(
        F.count("*").alias("n_purchases"),
        (
            F.min(F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        ).alias("min_delay_s"),
    )


SQL_RANGE_JOIN_PURCHASES = """
-- floor(epoch()) mirrors Spark's unix_timestamp second-truncation
SELECT c.event_id AS click_id,
       count(*) AS n_purchases,
       CAST(min(floor(epoch(p.ts)) - floor(epoch(c.ts))) AS BIGINT) AS min_delay_s
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND floor(epoch(p.ts)) >= floor(epoch(c.ts))
 AND floor(epoch(p.ts)) <= floor(epoch(c.ts)) + 3600
GROUP BY c.event_id
"""


def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts",
        right_payload=["click_ts"],
    ).select("event_id", "user_id", "ts", "click_ts")


SQL_ASOF_LAST_CLICK = """
SELECT p.event_id, p.user_id, p.ts, c.click_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


# --- JSON column parsing (§2.8 from_json family) ---------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy(F.expr("k div 10").alias("k_decile"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )


SQL_JSON_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decile,
       count(*) AS n, sum(value) AS total_value
FROM events GROUP BY 1
"""


# --- correlated scalar subquery -------------------------------------------

def q_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    avg_per_nation = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nation_avg"))
    return (
        c.join(F.broadcast(avg_per_nation), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_above_avg"))
    )


SQL_ABOVE_AVG_CUSTOMERS = """
SELECT c_nationkey, count(*) AS n_above_avg
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer i WHERE i.c_nationkey = c.c_nationkey)
GROUP BY c_nationkey
"""


# --- Bloom-prefiltered join ------------------------------------------------


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders x BUILDING-segment customers through
    ``bloom.bloom_prefilter_join``: the right side's key bitmap (4 KiB
    broadcast) drops non-matching orders map-side BEFORE the exact join.
    The prefilter is result-transparent — false positives die in the
    exact join — so the oracle is the PLAIN join SQL; what the bloom
    changes is the plan (the shuffle sees ~1/5 of orders), asserted in
    tests/test_plan_hygiene.py. At this scale Catalyst broadcasts the
    customer side anyway; the operator exists for the big-big selective
    join where neither side broadcasts (operators/bloom.py docstring)."""
    from token_etl_spark.operators.bloom import bloom_prefilter_join

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    joined = bloom_prefilter_join(orders, cust, "o_custkey", "c_custkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("total_price"),
    )


SQL_BLOOM_JOIN = """
SELECT o_orderpriority, count(*) AS n_orders, sum(o_totalprice) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1
"""


# --- array-membership predicate (P6) ----------------------------------------


def q_array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 driver row: ``array_contains`` as a FILTER predicate — the
    reference's dapp address-matching shape (DappEnricher address-list
    membership, re-expressed natively in operators/dapps.py
    filter_registry) — over the documents token array: keep docs whose
    tokens contain 'scan' but not 'spark', rolled up per source. The
    oracle is DuckDB ``list_contains`` on the same split."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        docs.where(
            F.array_contains(toks, "scan") & ~F.array_contains(toks, "spark")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


SQL_ARRAY_MEMBERSHIP = """
SELECT source, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
WHERE list_contains(string_split(text, ' '), 'scan')
  AND NOT list_contains(string_split(text, ' '), 'spark')
GROUP BY 1
"""


# --- dapp registry preprocessing (S10) ---------------------------------------


def q_dapp_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 driver row: the reference's dapp-registry preprocessing
    (Extract0x38Dapp.scala:8-45 — drop NFT sources, keep target-chain
    addresses, strip the chain prefix, drop emptied rows) plus the J5
    explode leg, run on a registry-shaped frame SYNTHESIZED
    deterministically from the part table (md5 addresses; every branch
    — NFT drop, off-chain filter, all-addresses-filtered row drop — is
    exercised by the %3/%5/%7 cases). The JSON READ itself stays
    environment-bound (io/sources.read_json_registry, CLI-tested); this
    row proves the transformation semantics under the gate."""
    from token_etl_spark.operators.dapps import explode_registry, filter_registry

    part = t(spark, sf_dir, "part")
    key = F.col("p_partkey")
    ks = key.cast("string")
    a1 = F.concat(
        F.when(key % 3 == 0, F.lit("0x1:")).otherwise(F.lit("0x38:")),
        F.lit("0x"),
        F.substring(F.md5(ks), 1, 8),
    )
    a2 = F.concat(
        F.when(key % 5 == 0, F.lit("0x2:")).otherwise(F.lit("0x38:")),
        F.lit("0x"),
        F.substring(F.md5(F.concat(ks, F.lit("b"))), 1, 8),
    )
    raw = part.select(
        key.alias("_id"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("image"),
        F.array(
            F.lit("web"),
            F.when(key % 7 == 0, F.lit("nft")).otherwise(F.lit("wallet")),
        ).alias("sources"),
        F.array(a1, a2).alias("contract_addresses"),
    )
    return explode_registry(filter_registry(raw)).select(
        F.col("idCMC").cast("long").alias("idCMC"), "name", "image", "dapp_address"
    )


SQL_DAPP_REGISTRY = """
WITH raw AS (
  SELECT p_partkey AS _id, p_name AS name, p_brand AS image,
         ['web', CASE WHEN p_partkey % 7 = 0 THEN 'nft' ELSE 'wallet' END]
           AS sources,
         [CASE WHEN p_partkey % 3 = 0 THEN '0x1:' ELSE '0x38:' END
            || '0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8),
          CASE WHEN p_partkey % 5 = 0 THEN '0x2:' ELSE '0x38:' END
            || '0x' || substr(md5(CAST(p_partkey AS VARCHAR) || 'b'), 1, 8)]
           AS addrs
  FROM part),
kept AS (
  SELECT _id, name, image,
         list_transform(list_filter(addrs, a -> starts_with(a, '0x38:')),
                        a -> string_split(a, ':')[2]) AS ca
  FROM raw WHERE NOT list_contains(sources, 'nft'))
SELECT _id AS idCMC, name, image, unnest(ca) AS dapp_address
FROM kept WHERE len(ca) > 0
"""


# --- upsert-by-key merge semantics (S6) -------------------------------------


def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 driver row: the upsert sink's MERGE semantics (Spark.scala:71-88
    ``overwrite.mode=update``) driven under the gate via the sink's own
    keep-latest-per-key reducer (io/sinks._first_per_key under
    io/sinks.latest_order — the exact frame both upsert_by_key and
    upsert_by_key_incremental write, minus the bucket partitioning).
    Existing table and incoming batch are synthesized from ``orders`` so
    every merge branch is exercised: keys %4∈{0,2} exist in both (batch
    wins), %4==1 exist only in the table (kept untouched), %4==3 arrive
    only in the batch (inserted). Batch keys are unique, so the
    xxhash64 within-batch tiebreak is inert; ``_v`` marks each row's
    side (1 table, 2 batch) and the oracle is a plain
    row_number-over-``_v`` replay. The parquet WRITE itself stays
    environment-bound (tests/test_sinks.py idempotency + untouched-bucket
    checks); this row proves the merge plan end-to-end."""
    from token_etl_spark.io.sinks import _first_per_key, latest_order

    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    existing = orders.where(k % 4 != 3).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(1).cast("long").alias("_v"),
    )
    batch = orders.where((k % 2 == 0) | (k % 4 == 3)).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1000.0)).alias("price"),
        F.lit("U").alias("status"),
        F.lit(2).cast("long").alias("_v"),
    )
    return _first_per_key(existing, batch, "o_orderkey", latest_order(batch.columns))


SQL_UPSERT_LATEST = """
WITH existing AS (
  SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status,
         CAST(1 AS BIGINT) AS _v
  FROM orders WHERE o_orderkey % 4 <> 3),
batch AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS price, 'U' AS status,
         CAST(2 AS BIGINT) AS _v
  FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 3),
merged AS (SELECT * FROM existing UNION ALL SELECT * FROM batch),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _v DESC) AS rn
  FROM merged)
SELECT o_orderkey, price, status, _v FROM ranked WHERE rn = 1
"""


# --- ingest enrichment: range scan + broadcast-dim (S2/S8/S9/F4) ------------


def q_enrich_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S8/S9/F4 driver row: the TransferEnricher enrichment plan
    (pipelines/transfers.enrich_transfers — TransferEnricher.scala:36-39
    range subquery, Spark.scala:33-54 key/prefix closures, Web3.scala:54-76
    per-row RPC replaced by a broadcast dimension with the null-on-missing
    path of Web3.scala:70-75) on frames synthesized from ``events``:
    a raw_transfer_event-shaped batch (md5 addresses/tx hashes) and a
    block_timestamps dim that deliberately OMITS blocks %3==0 so the
    left-outer null path is exercised under the gate. The dim timestamp
    is an integer epoch so the operator's cast-to-string is
    engine-portable. The JDBC/RPC READS stay environment-bound
    (tests/test_jdbc.py, test_pipelines.py); this row proves the
    enrichment semantics — range predicate, deterministic keys, wallet
    prefixes, broadcast join, null repair — end-to-end."""
    from token_etl_spark.pipelines.transfers import enrich_transfers

    ev = t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    raw = ev.select(
        (F.col("event_id") % 16).alias("log_index"),
        (F.col("event_id") % 500).alias("block_number"),
        F.substring(F.md5(eid), 1, 8).alias("from_address"),
        F.substring(F.md5(F.concat(eid, F.lit("t"))), 1, 8).alias("to_address"),
        F.col("event_type").alias("contract_address"),
        F.md5(F.concat(eid, F.lit("x"))).alias("transaction_hash"),
        F.col("value"),
    )
    dim = (
        ev.select((F.col("event_id") % 500).alias("block_number"))
        .where(F.col("block_number") % 3 != 0)
        .distinct()
        .select(
            "block_number",
            (F.col("block_number") * 3600 + 42).cast("long").alias("timestamp"),
        )
    )
    return enrich_transfers(raw, dim, lower_block=100, upper_block=400)


SQL_ENRICH_TRANSFERS = """
WITH raw AS (
  SELECT CAST(event_id % 16 AS INT) AS log_index,
         CAST(event_id % 500 AS INT) AS block_number,
         substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS from_address,
         substr(md5(CAST(event_id AS VARCHAR) || 't'), 1, 8) AS to_address,
         event_type AS contract_address,
         md5(CAST(event_id AS VARCHAR) || 'x') AS transaction_hash,
         value
  FROM events),
dim AS (
  SELECT DISTINCT block_number,
         CAST(block_number AS BIGINT) * 3600 + 42 AS ts
  FROM raw WHERE block_number % 3 <> 0),
flt AS (SELECT * FROM raw WHERE block_number BETWEEN 100 AND 400)
SELECT concat_ws('_', CAST(log_index AS VARCHAR), CAST(block_number AS VARCHAR),
                 'wallets/' || from_address, 'wallets/' || to_address,
                 transaction_hash) AS _key,
       'wallets/' || from_address AS _from,
       'wallets/' || to_address AS _to,
       contract_address, transaction_hash, log_index, block_number, value,
       CAST(dim.ts AS VARCHAR) AS transact_at
FROM flt LEFT JOIN dim USING (block_number)
"""


# --- S8: the Coingecko token-metadata dimension as a driver row -------------


def q_token_metadata_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 driver row: the token-metadata dimension ITSELF — the exact
    7-field Coingecko replacement fixture (fixtures.token_metadata_df /
    schemas.TOKEN_METADATA, Coingecko.scala:8-55 name/symbol/decimals/
    logo/total_supply/max_supply/circulating_supply plus the per-token
    whale threshold of Common.scala:4-10) — broadcast-joined into a
    whale metric where supply x threshold is READ FROM THE DIM, not a
    literal (the F5 composition, operators/holders.with_whale_flag /
    WalletEnricher.scala:23-25,62-63). Balances are synthesized from
    ``events`` (event_id %3 picks the token, value x10 spans the three
    tokens' whale lines: VALAS 500 / VENUS 2500 / CAKE 6000 — CAKE gets
    ZERO whales, exercising the all-false aggregation path). Output
    carries every dim field through the plan so the driver hashes the
    full Coingecko surface. The REST read stays environment-bound; this
    row proves the dimension's schema, values, and join semantics."""
    from token_etl_spark import fixtures
    from token_etl_spark.operators.holders import with_whale_flag

    ev = t(spark, sf_dir, "events")
    addrs = F.array(*[F.lit(a) for a, _, _, _ in fixtures.TOKENS])
    balances = ev.select(
        F.element_at(addrs, (F.col("event_id") % 3 + 1).cast("int")).alias(
            "contract_address"
        ),
        (F.col("value") * 10).alias("balance"),
    )
    dim = fixtures.token_metadata_df(spark)
    flagged = with_whale_flag(balances, dim)
    summary = flagged.groupBy("contract_address").agg(
        F.count("*").cast("long").alias("n_transfers"),
        F.sum(F.col("isWhale").cast("int")).cast("long").alias("n_whales"),
        F.round(
            F.max(F.when(F.col("isWhale"), F.col("balance"))), 6
        ).alias("max_whale_balance"),
    )
    return summary.join(F.broadcast(dim), "contract_address").select(
        "contract_address",
        "name",
        "symbol",
        "decimals",
        "logo",
        F.col("total_supply").cast("long").alias("total_supply"),
        F.col("max_supply").cast("long").alias("max_supply"),
        "circulating_supply",
        "whale_threshold",
        "n_transfers",
        "n_whales",
        "max_whale_balance",
    )


def _token_metadata_dim_sql() -> str:
    """Oracle: the dim rows are inlined as VALUES rendered from the SAME
    frame the Spark side instantiates (``fixtures.make_token_metadata_pdf``
    — not a re-derivation of its fields), so ANY fixture edit, including
    the derived name/decimals/logo/supply columns, breaks the hash
    instead of silently diverging."""
    from token_etl_spark import fixtures

    pdf = fixtures.make_token_metadata_pdf()
    rows = ",\n    ".join(
        f"('{r.contract_address}', '{r.name}', '{r.symbol}', '{r.decimals}',"
        f" '{r.logo}', {int(r.total_supply)}, {int(r.max_supply)},"
        f" {float(r.circulating_supply)!r}, {float(r.whale_threshold)!r})"
        for r in pdf.itertuples()
    )
    addr_list = ", ".join(f"'{a}'" for a in pdf["contract_address"])
    return f"""
WITH dim AS (
  SELECT * FROM (VALUES
    {rows}) AS t(contract_address, name, symbol, decimals, logo,
                 total_supply, max_supply, circulating_supply, whale_threshold)),
bal AS (
  SELECT [{addr_list}][CAST(event_id % 3 AS INT) + 1] AS contract_address,
         value * 10 AS balance
  FROM events),
flg AS (
  SELECT b.contract_address, b.balance,
         b.balance >= d.circulating_supply * d.whale_threshold AS is_whale
  FROM bal b JOIN dim d USING (contract_address)),
summary AS (
  SELECT contract_address,
         CAST(count(*) AS BIGINT) AS n_transfers,
         CAST(sum(CASE WHEN is_whale THEN 1 ELSE 0 END) AS BIGINT) AS n_whales,
         round(max(CASE WHEN is_whale THEN balance END), 6) AS max_whale_balance
  FROM flg GROUP BY 1)
SELECT s.contract_address, d.name, d.symbol, d.decimals, d.logo,
       CAST(d.total_supply AS BIGINT) AS total_supply,
       CAST(d.max_supply AS BIGINT) AS max_supply,
       d.circulating_supply, d.whale_threshold,
       s.n_transfers, s.n_whales, s.max_whale_balance
FROM summary s JOIN dim d USING (contract_address)
"""


SQL_TOKEN_METADATA_DIM = _token_metadata_dim_sql()


# --- hot-key skew profile ---------------------------------------------------


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic (operators/skew.skew_profile) over lineitem's
    join key: the 20 heaviest l_partkey values with count and share of
    the table — the measurement that decides salting. Two-phase exact
    top-k over the counts frame (per-bucket pre-rank, then a global rank
    over the bounded survivors); the total rides in as a broadcast 1-row
    crossJoin; deterministic key tie-break so the oracle replays the
    ranking exactly."""
    from token_etl_spark.operators.skew import skew_profile

    li = t(spark, sf_dir, "lineitem")
    out = skew_profile(li, ["l_partkey"], top_k=20)
    return out.select(
        "rank", "l_partkey", "n", F.round("share", 9).alias("share")
    )


SQL_SKEW_PROFILE = """
WITH c AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
tot AS (SELECT count(*) AS t FROM lineitem),
r AS (SELECT l_partkey, n,
             CAST(row_number() OVER (ORDER BY n DESC, l_partkey) AS BIGINT) AS rank
      FROM c)
SELECT rank, l_partkey, n, round(CAST(n AS DOUBLE) / t, 9) AS share
FROM r, tot WHERE rank <= 20
"""


# --- deterministic key builders (F1-F3) -------------------------------------


def q_transfer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's deterministic key builders driver-proven (F1-F3,
    SURVEY §2.8: ``{log_index}_{block}_{from}_{to}_{txhash}`` transfer
    key — the deterministic replacement for the reference's
    monotonically_increasing_id — plus the ``wallets/`` collection
    prefix round trip). Components are synthesized from events columns
    (the md5 stands in for the tx hash — any string works; the operator
    under test is the key CONSTRUCTION); the oracle is plain string
    concatenation, so this upgrades F3 from local-test-only to a driver
    row."""
    from token_etl_spark.functions import keys as K

    ev = t(spark, sf_dir, "events")
    key = K.transfer_key(
        "event_id",
        "user_id",
        F.concat(F.lit("u"), F.col("user_id").cast("string")),
        "event_type",
        F.md5(F.col("event_id").cast("string")),
    )
    pref = K.add_collection_prefix(F.col("user_id").cast("string"))
    return ev.select(
        "event_id",
        key.alias("transfer_key"),
        pref.alias("wallet_ref"),
        K.strip_collection_prefix(pref).alias("wallet_addr"),
    )


SQL_TRANSFER_KEYS = """
SELECT event_id,
       concat_ws('_', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
                 'u' || CAST(user_id AS VARCHAR), event_type,
                 md5(CAST(event_id AS VARCHAR))) AS transfer_key,
       'wallets/' || CAST(user_id AS VARCHAR) AS wallet_ref,
       CAST(user_id AS VARCHAR) AS wallet_addr
FROM events
"""


# --- fuzzy (edit-distance) matching join ------------------------------------

FUZZY_MAX_DIST = 2
FUZZY_Q = 3


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered Levenshtein entity resolution (operators/fuzzy.py
    fuzzy_join): deterministically CORRUPTED copies of diverse 12-hex
    keys (md5 of the customer name) matched back to the originals
    within edit distance 2 — one md5-chosen edit per key, cycling
    through INSERT / DELETE / SUBSTITUTE so the gate drives all three
    edit kinds (the r5 positional-gram bug was invisible to a
    substitution-only fixture). Candidates come from each key's d·q+1
    globally-rarest gram occurrences matched by CONTENT at
    delta-enumerated positions within ±d plus the ±d length band
    (Ed-Join prefix filter + location/length conditions — complete for
    the distance predicate including indels); verify is the integer
    builtin ``levenshtein`` in BOTH engines.

    The diverse-key fixture is the operator's DESIGN CASE (record
    linkage over natural identifiers, where every key has d·q+1 rare
    grams and blocking is near-linear). The adversarial dense-ID case
    (zero-padded serial numbers, where ANY complete gram blocking
    saturates to all-pairs — measured in PERF.md round 6) stays pinned
    against the exact cross join in tests/test_funnel.py."""
    from token_etl_spark.operators.fuzzy import fuzzy_join

    dirty, base = _fuzzy_fixture(spark, sf_dir)
    return fuzzy_join(
        dirty, base, "dirty_key", "k0", max_dist=FUZZY_MAX_DIST, q=FUZZY_Q
    )


def _fuzzy_fixture(spark: SparkSession, sf_dir: str):
    """(dirty, base): diverse 12-hex keys (md5 of customer names) and one
    deterministically md5-chosen corruption per key, cycling INSERT /
    DELETE / SUBSTITUTE — shared by the capped and uncapped fuzzy rows."""
    from token_etl_spark.operators.curation import hash_bucket

    cust = t(spark, sf_dir, "customer")
    base = cust.select(
        F.substring(F.md5(F.col("c_name").cast("binary")), 1, 12).alias("k0")
    ).distinct()
    pos = (hash_bucket(F.col("k0"), 8) + 2).cast("int")
    mode = hash_bucket(F.col("k0"), 3)
    head = F.col("k0").substr(F.lit(1), pos - 1)
    keep_tail = F.col("k0").substr(pos, F.lit(12))
    skip_tail = F.col("k0").substr(pos + 1, F.lit(12))
    dirty = base.select(
        F.when(mode == 0, F.concat(head, F.lit("z"), keep_tail))
        .when(mode == 1, F.concat(head, skip_tail))
        .otherwise(F.concat(head, F.lit("z"), skip_tail))
        .alias("dirty_key")
    )
    return dirty, base


FUZZY_MAX_GRAM_DF = 256


def q_fuzzy_match_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_fuzzy_match`` with the ``max_gram_df`` saturation guard ON —
    the move that driver-proved the MinHash ``max_bucket`` guard in r5:
    the cap only ASSERTS (window count over the candidate join's own
    (gram, position) shuffle key, raising before any pair is emitted if
    a bucket exceeds it), so the oracle is unchanged and a green driver
    row proves the guarded plan end-to-end. 256 sits ~4x above the
    largest measured bucket on this fixture at sf0.1 (60; sf0.01: 7) —
    the diverse-key design case never trips it, while a dense-ID corpus
    (PERF.md round 6's saturation pathology) would fail loudly instead
    of silently going quadratic."""
    from token_etl_spark.operators.fuzzy import fuzzy_join

    dirty, base = _fuzzy_fixture(spark, sf_dir)
    return fuzzy_join(
        dirty,
        base,
        "dirty_key",
        "k0",
        max_dist=FUZZY_MAX_DIST,
        q=FUZZY_Q,
        max_gram_df=FUZZY_MAX_GRAM_DF,
    )


_FUZZY_PREFIX = FUZZY_MAX_DIST * FUZZY_Q + 1
# (p, g) occurrences over the chr(1)-PADDED key (Gravano q-gram profile:
# q-1 sentinels both ends, so short keys keep >= q grams and boundary
# indels stay inside the disturbance bound) — content NOT deduplicated,
# positions ride along for Ed-Join's |pos_l - pos_r| <= d condition
_FUZZY_GRAMS = (
    "unnest(list_transform("
    "range(1, len(k) + {qm1} + 1),"
    " i -> struct_pack(p := CAST(i AS INT),"
    " g := substr(repeat(chr(1), {qm1}) || k || repeat(chr(1), {qm1}),"
    " CAST(i AS INT), {q}))))"
).format(qm1=FUZZY_Q - 1, q=FUZZY_Q)

SQL_FUZZY_MATCH = f"""
WITH orig AS (SELECT DISTINCT substr(md5(c_name), 1, 12) AS k FROM customer),
par AS (SELECT k,
               CAST('0x' || substr(md5(k), 1, 6) AS BIGINT) % 8 + 2 AS p,
               CAST('0x' || substr(md5(k), 1, 6) AS BIGINT) % 3 AS m
        FROM orig),
dirty AS (SELECT DISTINCT CASE
            WHEN m = 0 THEN substr(k, 1, CAST(p - 1 AS INT)) || 'z'
                            || substr(k, CAST(p AS INT), 12)
            WHEN m = 1 THEN substr(k, 1, CAST(p - 1 AS INT))
                            || substr(k, CAST(p + 1 AS INT), 12)
            ELSE substr(k, 1, CAST(p - 1 AS INT)) || 'z'
                 || substr(k, CAST(p + 1 AS INT), 12) END AS k
          FROM par),
lg AS (SELECT k, pg.p AS p, pg.g AS g FROM (SELECT k, {_FUZZY_GRAMS} AS pg FROM dirty)),
rg AS (SELECT k, pg.p AS p, pg.g AS g FROM (SELECT k, {_FUZZY_GRAMS} AS pg FROM orig)),
gdf AS (SELECT g, count(*) AS df
        FROM (SELECT g FROM lg UNION ALL SELECT g FROM rg) GROUP BY 1),
lp AS (SELECT k AS lk, g, p FROM (
         SELECT lg.k, lg.g, lg.p,
                row_number() OVER (PARTITION BY lg.k ORDER BY df, lg.g, lg.p) AS r
         FROM lg JOIN gdf USING (g)) WHERE r <= {_FUZZY_PREFIX}),
rp AS (SELECT k AS rk, g, p FROM (
         SELECT rg.k, rg.g, rg.p,
                row_number() OVER (PARTITION BY rg.k ORDER BY df, rg.g, rg.p) AS r
         FROM rg JOIN gdf USING (g)) WHERE r <= {_FUZZY_PREFIX}),
gcand AS (SELECT lk, rk
          FROM lp JOIN rp ON lp.g = rp.g
           AND abs(lp.p - rp.p) <= {FUZZY_MAX_DIST}
           AND abs(length(lk) - length(rk)) <= {FUZZY_MAX_DIST}),
-- short-key branch: keys with <= d*q padded gram occurrences have a
-- vacuous gram match bound; pair them via the length band directly
scand AS (SELECT s.k AS lk, t.k AS rk
          FROM dirty s JOIN orig t
            ON abs(length(s.k) - length(t.k)) <= {FUZZY_MAX_DIST}
          WHERE length(s.k) <= {FUZZY_Q * (FUZZY_MAX_DIST - 1) + 1 + FUZZY_MAX_DIST}
            AND length(t.k) <= {FUZZY_Q * (FUZZY_MAX_DIST - 1) + 1 + FUZZY_MAX_DIST}),
cand AS (SELECT DISTINCT lk, rk FROM (SELECT * FROM gcand UNION ALL SELECT * FROM scand))
SELECT lk, rk, CAST(levenshtein(lk, rk) AS BIGINT) AS dist
FROM cand WHERE levenshtein(lk, rk) <= {FUZZY_MAX_DIST}
"""


SPECS = [
    QuerySpec("rel_scan_pushdown", q_scan_pushdown, SQL_SCAN_PUSHDOWN, ("scan", "filter")),
    QuerySpec("rel_fuzzy_match", q_fuzzy_match, SQL_FUZZY_MATCH, ("join", "string", "fuzzy")),
    QuerySpec("rel_fuzzy_match_capped", q_fuzzy_match_capped, SQL_FUZZY_MATCH, ("join", "string", "fuzzy", "guard")),
    QuerySpec("rel_bloom_join", q_bloom_join, SQL_BLOOM_JOIN, ("join", "sketch")),
    QuerySpec("rel_json_props", q_json_props, SQL_JSON_PROPS, ("json",)),
    QuerySpec("rel_above_avg_customers", q_above_avg_customers, SQL_ABOVE_AVG_CUSTOMERS, ("subquery",)),
    QuerySpec("rel_notin_blacklist", q_notin_blacklist, SQL_NOTIN_BLACKLIST, ("filter",)),
    QuerySpec("rel_bool_flags", q_bool_flags, SQL_BOOL_FLAGS, ("predicate",)),
    QuerySpec("rel_prefix_keys", q_prefix_keys, SQL_PREFIX_KEYS, ("string", "domain")),
    QuerySpec("rel_customer_spend", q_customer_spend, SQL_CUSTOMER_SPEND, ("join-outer", "nullrepair")),
    QuerySpec("rel_monthly_scaffold", q_monthly_scaffold, SQL_MONTHLY_SCAFFOLD, ("join-cross", "join-outer")),
    QuerySpec("rel_explode_word_join", q_explode_word_join, SQL_EXPLODE_WORD_JOIN, ("join-explode",), bench=True),
    QuerySpec("rel_semi_join", q_semi_join, SQL_SEMI_JOIN, ("join-semi",)),
    QuerySpec("rel_anti_join", q_anti_join, SQL_ANTI_JOIN, ("join-anti",)),
    QuerySpec("rel_union_distinct", q_union_distinct, SQL_UNION_DISTINCT, ("setop",)),
    QuerySpec("rel_full_outer", q_full_outer, SQL_FULL_OUTER, ("join-outer",)),
    QuerySpec("rel_salted_agg", q_salted_agg, SQL_SALTED_AGG, ("agg", "skew")),
    QuerySpec("rel_salted_join", q_salted_join, SQL_SALTED_JOIN, ("join", "skew")),
    QuerySpec("rel_pivot_priority", q_pivot_priority, SQL_PIVOT_PRIORITY, ("pivot",)),
    QuerySpec("rel_topk_orders", q_topk_orders, SQL_TOPK_ORDERS, ("window-rank",)),
    QuerySpec("rel_asof_last_click", q_asof_last_click, SQL_ASOF_LAST_CLICK, ("join-asof",), bench=True),
    QuerySpec("rel_range_join_purchases", q_range_join_purchases, SQL_RANGE_JOIN_PURCHASES, ("join-range",)),
    QuerySpec("rel_array_ops", q_array_ops, SQL_ARRAY_OPS, ("functions-array", "higher-order")),
    QuerySpec("rel_sql_api", q_sql_api, SQL_SQL_API, ("sql-api",)),
    QuerySpec("rel_date_parts", q_date_parts, SQL_DATE_PARTS, ("functions-date",)),
    QuerySpec("rel_string_ops", q_string_ops, SQL_STRING_OPS, ("functions-string",)),
    QuerySpec("rel_transfer_keys", q_transfer_keys, SQL_TRANSFER_KEYS, ("functions-string", "keys")),
    QuerySpec("rel_array_membership", q_array_membership, SQL_ARRAY_MEMBERSHIP, ("predicate", "functions-array")),
    QuerySpec("rel_dapp_registry", q_dapp_registry, SQL_DAPP_REGISTRY, ("scan-preprocess", "functions-array", "join-explode")),
    QuerySpec("rel_upsert_latest", q_upsert_latest, SQL_UPSERT_LATEST, ("sink-upsert", "window-rank", "setop")),
    QuerySpec("rel_enrich_transfers", q_enrich_transfers, SQL_ENRICH_TRANSFERS, ("scan-range", "join-broadcast", "keys", "nullrepair")),
    QuerySpec("rel_token_metadata_dim", q_token_metadata_dim, SQL_TOKEN_METADATA_DIM, ("dim", "join-broadcast", "predicate", "agg")),
    QuerySpec("rel_skew_profile", q_skew_profile, SQL_SKEW_PROFILE, ("agg", "skew", "topk")),
    QuerySpec("rel_ship_delay_histogram", q_ship_delay_histogram, SQL_SHIP_DELAY_HISTOGRAM, ("functions-date", "join")),
]
