"""Physical-layout helper: the on-disk size of a directory, read from
the filesystem listing. State compaction sizes its rewrite from it
(``streaming/dedup.compact_state_partitions``).
"""

from __future__ import annotations


def dir_size_bytes(spark, path: str) -> int:
    """On-disk byte size of a path via the Hadoop FileSystem API — a
    driver-side LISTING (no data read), valid for local paths and any
    HDFS-compatible store (s3a/gs/abfs)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()
