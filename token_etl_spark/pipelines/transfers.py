"""Ingest pipeline — the TransferEnricher entry point re-expressed
(reference: src/main/scala/etl/TransferEnricher.scala).

Reference shape: driver loop over 5,000-block ranges → partitioned JDBC
scan → UDF key synth + wallet-prefix UDFs → per-row Web3 RPC UDF for the
block timestamp (with a per-JVM memo cache) → RDD round-trip schema pin →
ArangoDB edge upsert.

Spark-native shape: ONE declarative plan — range-filtered scan (Catalyst
pushes the block_number BETWEEN predicate into the source), native
concat/cast expressions for keys and prefixes, a **broadcast join**
against the block_timestamps dimension instead of per-row RPC (the memo
cache is just join dedup), explicit select against the registry schema
(no RDD round-trip), and the keyed upsert sink. The 600-range driver
loop disappears: partition pruning + task parallelism already split the
scan; incremental ingest = run with a new block range, upsert dedups.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from token_etl_spark.functions.keys import add_collection_prefix, transfer_key


def enrich_transfers(
    raw: DataFrame,
    block_timestamps: DataFrame,
    lower_block: int | None = None,
    upper_block: int | None = None,
) -> DataFrame:
    """raw_transfer_event rows → transfers edge rows (TRANSFERS schema).

    - range predicate ≡ the hand-written JDBC subquery (S2,
      TransferEnricher.scala:36-39); pushed to the source scan;
    - `_key` = deterministic transfer_key (F3 deviation documented in
      functions/keys.py);
    - `transact_at` via broadcast-joined dimension (replaces UDF F4 /
      Web3.scala:54-76); missing blocks → null, matching the reference's
      null-on-error path (Web3.scala:70-75).
    """
    df = raw
    if lower_block is not None and upper_block is not None:
        df = df.filter(F.col("block_number").between(lower_block, upper_block))

    dim = F.broadcast(block_timestamps.select("block_number", "timestamp"))
    # one projection per plan level (each DataFrame call re-analyses the
    # plan); the key reads the cast and prefixed columns, as before
    enriched = (
        df.select(
            F.col("log_index").cast("int").alias("log_index"),
            F.col("block_number").cast("int").alias("block_number"),
            "contract_address", "transaction_hash", "value",
            add_collection_prefix("from_address").alias("_from"),
            add_collection_prefix("to_address").alias("_to"),
        )
        .withColumn("_key", transfer_key())
        .join(dim, "block_number", "left_outer")
    )
    return enriched.select(
        "_key", "_from", "_to", "contract_address", "transaction_hash",
        "log_index", "block_number", "value",
        F.col("timestamp").cast("string").alias("transact_at"),
    )


def ingest_ranges(
    spark: SparkSession,
    ranges: Iterable[tuple[int, int]],
    load_batch: Callable[[int, int], DataFrame],
    sink_path: str,
    key: str = "_key",
    n_buckets: int = 16,
    max_retries: int = 3,
    backoff_s: float = 0.5,
) -> int:
    """Incremental-ingest driver with the reference's operational
    contract (TransferEnricher.scala:94-110,112-150): walk the block
    ranges, read+enrich each batch, upsert by key, and RETRY a failed
    range with exponential backoff before giving up.

    Safety comes from idempotence, not bookkeeping: the keyed upsert
    dedups on ``key``, so a range that failed mid-write (or is re-run
    wholesale after a crash) converges to the same table — the same
    property the reference gets from ArangoDB ``overwrite.mode=update``.
    Ranges run sequentially: a Spark action already saturates the
    cluster with the batch's own task parallelism, so the reference's
    bounded-Future pool (which throttles a SINGLE-machine fetch loop)
    has no analog worth reproducing — concurrency here would just make
    two jobs fight over the same executors and break per-range retry
    isolation against the keyed sink.

    Returns the number of ranges ingested. Raises the last error if a
    range stays failing after ``max_retries`` retries.
    """
    from token_etl_spark.io.sinks import upsert_by_key_incremental

    done = 0
    for lo, hi in ranges:
        attempt = 0
        while True:
            try:
                batch = load_batch(lo, hi)
                upsert_by_key_incremental(
                    spark, batch, sink_path, key=key, n_buckets=n_buckets
                )
                break
            except Exception:
                attempt += 1
                if attempt > max_retries:
                    raise
                time.sleep(backoff_s * (2 ** (attempt - 1)))
        done += 1
    return done
