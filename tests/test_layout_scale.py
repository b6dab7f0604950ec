"""Storage-layout proofs: the SCALE.md claim that partition pruning
reaches the file listing, and the listing-based directory size that
state compaction sizes its rewrite from. They run against real written
tables, not assertions on prose.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from token_etl_spark import fixtures


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_layout_prunes(spark, tmp_path):
    transfers = fixtures.transfers_df(spark, n_rows=500, n_wallets=10)
    path = str(tmp_path / "transfers_part")
    transfers.write.partitionBy("contract_address").parquet(path)

    target = fixtures.TOKENS[0][0]
    df = spark.read.parquet(path).filter(F.col("contract_address") == target)
    plan = _explain(df)
    assert "PartitionFilters" in plan and "contract_address" in plan
    # pruned scan must read only the one partition's files
    n_parts = df.select("contract_address").distinct().count()
    assert n_parts == 1


def test_dir_size_bytes_matches_the_file_listing(spark, tmp_path):
    """The listing-based size counts every file under the directory tree
    (data files and commit markers, partition subdirectories included),
    which is what ``compact_state_partitions`` sizes its rewrite from; a
    missing path raises instead of reading as empty. The local checksum
    filesystem hides its ``.crc`` side files from the listing, so they
    are not counted."""
    import os

    from token_etl_spark.operators.layout import dir_size_bytes

    path = str(tmp_path / "sized")
    spark.range(5000).select(
        (F.col("id") % 4).alias("p"), F.sha1(F.col("id").cast("string")).alias("pad")
    ).write.partitionBy("p").parquet(path)
    def listed(d, files):
        return sum(os.path.getsize(os.path.join(d, f)) for f in files if not f.endswith(".crc"))

    on_disk = sum(listed(d, files) for d, _, files in os.walk(path))
    assert on_disk > 0
    assert dir_size_bytes(spark, path) == on_disk
    one = os.path.join(path, "p=0")
    assert dir_size_bytes(spark, one) == listed(one, os.listdir(one))
    with pytest.raises(Exception, match="FileNotFound|does not exist"):
        dir_size_bytes(spark, str(tmp_path / "absent"))
