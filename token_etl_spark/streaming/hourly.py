"""Structured Streaming variant of the hourly metrics (SURVEY §2.9, §7.5).

The reference's ingest loop is a hand-rolled micro-batcher: fixed 5,000-
block ranges, 5 concurrent Futures, sleeps and retries
(TransferEnricher.scala:112-150). The Spark-native expression is
Structured Streaming: a file (or any) source, an event-time tumbling
window with a watermark for late data, and an idempotent sink. No
watermark/window machinery exists in the reference — this is the
capability extension SURVEY §2.9 calls for, not a fidelity port.

At scale: state is bounded by the watermark horizon; `foreachBatch` +
upsert_by_key gives exactly-once-per-key materialization against any
keyed sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from token_etl_spark.functions.timeops import unix_seconds
from token_etl_spark.streaming.dedup import _drain


def hourly_metrics_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """File-source stream → watermarked 1-hour tumbling aggregation.

    Emits (hour_ts, event_type, n_events, volume) — the streaming twin of
    plans/domain.py q_tumbling_hourly; a batch run over the same files
    must produce identical rows (tested in tests/test_streaming.py).
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum(value_col).alias("volume"))
        .select(
            unix_seconds(F.col("w.start")).alias("hour_ts"),
            "event_type",
            "n_events",
            "volume",
        )
    )


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    out_path: str,
    key_cols: tuple[str, ...] = ("hour_ts", "event_type"),
) -> None:
    """Stream → keyed upsert sink via foreachBatch (SURVEY §7.5): each
    micro-batch MERGEs into the parquet table on the metric key, so
    re-emitted windows (late data within the watermark) overwrite their
    previous values instead of duplicating — the incremental-ingest
    contract the reference's Future-loop + Arango upsert approximates.
    """
    from token_etl_spark.io.sinks import upsert_by_key

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keyed = batch_df.withColumn("_key", F.concat_ws("|", *key_cols))
        upsert_by_key(batch_df.sparkSession, keyed, out_path)

    _drain(stream_df, _sink)


def run_to_memory(
    stream_df: DataFrame, query_name: str = "hourly_metrics", output_mode: str = "complete"
) -> None:
    """Drain all available input into an in-memory table (test harness).
    ``complete`` suits aggregations; row-level operators (dedup, filters)
    require ``append``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
