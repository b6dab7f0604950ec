"""Physical-layout operators: Z-order clustering for multi-column data
skipping.

Parquet scans prune row groups / files on min-max statistics. A sort on
one column gives perfect pruning for that column and none for others;
interleaving the bits of several columns (a Z-order / Morton curve)
makes every file cover a narrow range of EVERY clustered column, so
predicates on any of them skip most files. This is the table-format
"OPTIMIZE ZORDER BY" technique expressed with plain DataFrame ops.

Scale shape: one agg for per-column min/max (broadcast scalars), a
narrow map computing the z-value (shift/mask arithmetic, codegen'd), one
range repartition + within-partition sort — the same cost as any global
sort-for-layout. Fixed-width binning from min/max keeps the computation
distribution-free; heavily skewed columns would want quantile binning
(the bins are the only thing to swap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave(bucket_cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` of each bucket id into one z-value."""
    n = len(bucket_cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_value(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Attach ``_z``: the Morton interleave of ``cols`` bucketed into
    2^bits fixed-width bins between each column's min and max."""
    stats = df.agg(
        *[F.min(c).alias(f"_min_{c}") for c in cols],
        *[F.max(c).alias(f"_max_{c}") for c in cols],
    ).collect()[0]
    buckets = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = float(stats[f"_min_{c}"]), float(stats[f"_max_{c}"])
        span = hi - lo if hi > lo else 1.0
        b = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(top)).cast("long"),
        )
        buckets.append(F.greatest(F.lit(0), b))
    return df.withColumn("_z", _interleave(buckets, bits))


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8, bits: int = 8
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``.

    Files are split on the HIGH BITS of the z-value (``_zp`` = the
    z-prefix), not on sampled range boundaries: ``repartitionByRange``
    samples its cut points, so a boundary can land mid-block and one
    file then straddles two far-apart hyper-rectangles on some axis
    (observed: per-file span blowing past the clustering bound on one
    column). A z-prefix is deterministic — every file covers exactly one
    aligned sub-rectangle of the clustered columns, run after run.

    ``n_files`` is rounded up to a power of two (2^k prefixes). The
    prefix lands on disk as a ``_zp=<id>`` partition directory, so
    readers get coarse partition pruning on top of the per-file min-max
    stats; within each file rows stay z-sorted for row-group pruning.
    """
    k = max(1, (n_files - 1).bit_length())
    shift = bits * len(cols) - k
    (
        zorder_value(df, cols, bits)
        .withColumn("_zp", F.shiftright(F.col("_z"), shift))
        # all rows of one prefix hash to one task → exactly one file per
        # prefix directory (collisions only mean a task writes two dirs)
        .repartition(1 << k, "_zp")
        .sortWithinPartitions("_zp", "_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("_zp")
        .parquet(path)
    )


def dir_size_bytes(spark, path: str) -> int:
    """On-disk byte size of a path via the Hadoop FileSystem API — a
    driver-side LISTING (no data read), valid for local paths and any
    HDFS-compatible store (s3a/gs/abfs)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_files(
    spark,
    path: str,
    out_path: str,
    target_mb: int = 128,
    sort_col: str | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(bytes / target_mb) files of ~``target_mb`` each; returns the
    file count written.

    The small-files problem is an operational killer at 100 TB —
    streaming sinks and per-partition upserts leave thousands of KB-size
    files per directory, and scan tasks + NameNode/listing pressure
    scale with FILE COUNT, not bytes. Sizing comes from the directory
    listing (no data read to plan), the rewrite is one round-robin
    repartition (or a range partition on ``sort_col``, which keeps the
    rewrite clustered for min-max pruning). Compact per partition
    directory in production so only cold partitions rewrite.
    """
    df = spark.read.parquet(path)
    n_files = max(1, -(-dir_size_bytes(spark, path) // (target_mb << 20)))
    if sort_col is not None:
        df = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(out_path)
    return n_files


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a hash-bucketed (and bucket-sorted) parquet table.

    Bucketing is THE co-location primitive at 100 TB: two tables
    bucketed on the same key with the same bucket count join with ZERO
    shuffle on either side (and zero sort) — the
    exchange that dominates a fact-fact join is paid once at write time
    and amortized over every subsequent join/groupBy on that key.
    ``n_buckets`` should be sized so one bucket of the larger table fits
    an executor core's working set (at 100 TB think thousands, not 32).

    Bucketed layout requires the table catalog (file listings carry no
    bucket metadata), hence ``saveAsTable`` rather than a path write.
    """
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
