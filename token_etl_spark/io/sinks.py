"""Sinks (SURVEY §2.1 S6-S7).

The reference's ArangoDB sink is an upsert-on-``_key`` append
(Spark.scala:71-88, ``overwrite.mode=update``); its CSV debug sink is
WriteToFile.scala:6-12. Parquet replaces the document store; upsert
semantics are reproduced with a deterministic keyed dedup
(row_number over _key, batch rows ranked before table rows — keep
latest) — the same MERGE-by-key contract without requiring a table
format.

At 100 TB the upsert would target a lakehouse table format with real MERGE
support; the dedup-by-key plan below is the format-free equivalent and is
partitionable on the key hash (no global shuffle beyond the one the merge
itself requires).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Staging-dir suffixes are PER PROTOCOL: the whole-table swap
# (.staging-full — the staged dir is a complete replacement table,
# healing renames it over the final dir) and the per-bucket swap
# (.staging-buckets — the staged dir holds only touched _bucket=N
# subdirs, healing renames them individually). A shared suffix would
# let one protocol's heal consume the other's staging dir — the
# full-swap heal would rename a bucket-only staging over the whole
# table, dropping every untouched bucket (ADVICE r10).
_STAGING_FULL = ".staging-full"
_STAGING_BUCKETS = ".staging-buckets"

#: Temporary source rank stamped on the merge union: 0 on batch rows, 1
#: on table rows. An ``order`` that sorts on it ascending lets the batch
#: win (keep-latest); it is dropped before the write.
SOURCE_RANK = "_src"


def _read_existing(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """Read the target table, distinguishing "does not exist yet" (→ None)
    from real failures. A bare ``except Exception`` here would treat a
    transient storage error or corrupt footer as first-write and let the
    subsequent overwrite discard existing rows — only the analyzer's
    path-not-found is a legitimate first-write signal; everything else
    re-raises.

    ``schema``: read with it instead of inferring one — inference reads a
    footer in its own Spark job. Table columns outside it are not read;
    its columns the table lacks read as null.
    """
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def latest_order(columns: list[str]) -> list[Column]:
    """The keep-latest ``order`` of both upsert sinks: batch rows before
    table rows, then a content hash over ``columns``. Duplicate keys
    WITHIN one batch share a rank, and the hash makes their winner
    arbitrary-but-stable across retries (input order inside a shuffled
    batch is not reproducible; a hash is)."""
    return [F.col(SOURCE_RANK).asc(), F.xxhash64(*columns).desc()]


def _first_per_key(
    table: DataFrame | None,
    batch: DataFrame,
    key: str,
    order: list[Column],
    bucket_col: str | None = None,
) -> DataFrame:
    """Union ``table`` (None on a first write) and ``batch`` under the
    temporary :data:`SOURCE_RANK`, then keep the first row per ``key``
    under ``order``. With ``bucket_col`` the union is hash-partitioned
    on it once and the window runs over (bucket, key): the exchange the
    partitioned write needs is the window's too, so none is added."""
    merged = batch.withColumn(SOURCE_RANK, F.lit(0))
    if table is not None:
        merged = (
            table.select(*batch.columns)
            .withColumn(SOURCE_RANK, F.lit(1))
            .unionByName(merged)
        )
    parts = [key]
    if bucket_col is not None:
        merged, parts = merged.repartition(bucket_col), [bucket_col, key]
    w = Window.partitionBy(*parts).orderBy(*order)
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", SOURCE_RANK)
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header, overwrite (S7; WriteToFile.scala:6-12)."""
    df.write.format("csv").option("header", "true").mode("overwrite").save(path)


def upsert_by_key(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    key: str = "_key",
) -> None:
    """Upsert-by-key sink (S6; Spark.scala:71-88 ``overwrite.mode=update``).

    Reads the existing keyed table (if any), unions the new batch ranked
    before it, keeps the latest row per key (:func:`latest_order`), and
    rewrites. Table columns outside the batch's are dropped.
    ``keep.null=true`` parity: nulls in the new batch overwrite (we keep
    whole-row latest, which the reference's document-update also does for
    supplied fields).

    Commit protocol: :func:`_full_swap` — an in-place overwrite of the
    ONLY copy would lose the whole table on a crash mid-write.
    Single-writer contract, like every state sink in this package.
    """
    _heal_legacy_staging(spark, path)
    _heal_full_swap(spark, path)
    existing = _read_existing(spark, path)
    deduped = _first_per_key(existing, new_df, key, latest_order(new_df.columns))
    _full_swap(spark, path, {"": deduped.write.parquet})


def _full_swap(
    spark: SparkSession, path: str, parts: dict[str, Callable[[str], None]]
) -> None:
    """Replace the tree at ``path`` whole — the one commit of every state
    table in this package (the upsert sink, the KMV and retention
    sketches, state compaction, the IVF index and the domain stats). An
    in-place overwrite of the only copy would lose the tree on a crash
    mid-write.

    ``parts`` maps a part name to the call that writes it, given the
    part's directory, in order. A part is a subdir of the tree (e.g.
    ``centroids``), or ``""`` for a tree that is one parquet table at
    its root — then it is the only part.

    Protocol: heal (:func:`_heal_full_swap`), clear any stale staging,
    write every part under ``<path>.staging-full``, check that each part
    left its own ``_SUCCESS``, mark the staging root ``_SUCCESS``, then
    delete the final tree and rename the staging over it. The root
    marker is the completeness signal the heal trusts, so a crash at any
    point leaves either the old tree, a marked staging the next writer
    promotes (readers read it in place, :func:`_committed_tree`), or an
    unmarked staging nothing promotes."""
    _heal_full_swap(spark, path)
    staging = path.rstrip("/") + _STAGING_FULL
    _delete_dir(spark, staging)
    dirs = {name: f"{staging}/{name}" if name else staging for name in parts}
    for name, write in parts.items():
        write(dirs[name])
    fs, hpath = _bucket_fs(spark, path)
    partial = [
        n or "." for n, d in dirs.items() if not fs.exists(hpath(d + "/_SUCCESS"))
    ]
    if partial:
        raise IOError(
            f"staging write at {staging} left no _SUCCESS in part(s) {partial} "
            f"— refusing to commit a partial tree over {path} (a part deleted "
            "mid-write, or mapreduce.fileoutputcommitter.marksuccessfuljobs off)"
        )
    fs.create(hpath(staging + "/_SUCCESS"), True).close()
    _heal_full_swap(spark, path)  # the swap IS the heal of a marked staging


def _heal_full_swap(spark: SparkSession, path: str) -> None:
    """Finish a whole-tree swap (:func:`_full_swap`) that a crash cut
    after its staging was marked: a staging with a root ``_SUCCESS`` is a
    complete replacement and is promoted over whatever final tree
    exists. An unmarked staging is never deleted here — it may be a
    concurrent writer's in-flight staging; the next writer clears it.
    Every writer of a whole-tree state runs this first, so nothing
    appends to a tree a marked staging is about to replace; readers
    resolve through :func:`_committed_tree` instead and never run it —
    two heals over one staging both pass the marker check, and the
    second would delete the tree the first just promoted. Only consumes
    ``.staging-full`` dirs (see the suffix constants)."""
    fs, hpath = _bucket_fs(spark, path)
    staging = path.rstrip("/") + _STAGING_FULL
    if not fs.exists(hpath(staging + "/_SUCCESS")):
        return
    dst = hpath(path)
    if fs.exists(dst):
        fs.delete(dst, True)
    if not fs.rename(hpath(staging), dst):
        raise IOError(f"whole-tree swap failed: rename {staging} -> {path}")


def _committed_tree(spark: SparkSession, path: str) -> str:
    """Where to read a whole-tree state (:func:`_full_swap`) as its last
    commit left it: the marked ``.staging-full`` while a cut swap left
    one (a complete replacement the next writer promotes), else
    ``path``. Changes nothing on disk, so a reader never races another
    heal or the writer's own swap (:func:`_heal_full_swap`)."""
    fs, hpath = _bucket_fs(spark, path)
    staging = path.rstrip("/") + _STAGING_FULL
    return staging if fs.exists(hpath(staging + "/_SUCCESS")) else path


def _heal_legacy_staging(spark: SparkSession, path: str) -> None:
    """One-time migration heal for PRE-suffix-split ``<path>.staging``
    dirs (both protocols shared that name before r10): without this, a
    crash-interrupted swap from the old code would be orphaned forever —
    worst case the old full-swap crash window (final dir deleted,
    complete ``.staging`` holding the ONLY copy), where ignoring the
    legacy dir makes the next upsert rebuild the table from the new
    batch alone, silently dropping every prior row.

    Protocol is recovered from the staging dir's own layout: the old
    bucket merge staged ``_bucket=N`` partition subdirs, the old full
    upsert staged flat part files — so ``_bucket=`` entries ⇒ bucket
    semantics (rename each staged bucket over its final counterpart),
    otherwise ⇒ full semantics (rename the dir over the table).
    Incomplete legacy staging (no ``_SUCCESS``) is discarded, exactly as
    the old heals did."""
    fs, hpath = _bucket_fs(spark, path)
    staging = path.rstrip("/") + ".staging"
    sp = hpath(staging)
    if not fs.exists(sp):
        return
    if not fs.exists(hpath(staging + "/_SUCCESS")):
        fs.delete(sp, True)
        return
    entries = list(fs.listStatus(sp))
    staged_buckets = [
        st.getPath()
        for st in entries
        if st.getPath().getName().startswith("_bucket=")
    ]
    # data files = anything not underscore-prefixed (part-*.parquet).
    # A _SUCCESS-only staging is the leftover of the OLD bucket heal
    # crashing between its last bucket rename and the staging delete —
    # treating it as a full-swap staging would DELETE the live table
    # and rename an empty dir over it. Data-free staging ⇒ discard.
    has_data_files = any(
        not st.getPath().getName().startswith("_") for st in entries
    )
    if staged_buckets:
        fs.mkdirs(hpath(path))
        for src in staged_buckets:
            dst = hpath(path.rstrip("/") + "/" + src.getName())
            if fs.exists(dst):
                fs.delete(dst, True)
            if not fs.rename(src, dst):
                raise IOError(f"legacy bucket swap failed: {src} -> {path}")
        fs.delete(sp, True)
    elif has_data_files:
        dst = hpath(path)
        if fs.exists(dst):
            fs.delete(dst, True)
        if not fs.rename(sp, dst):
            raise IOError(f"legacy swap recovery failed: {staging} -> {path}")
    else:
        fs.delete(sp, True)


def _bucket_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path constructor) for ``path`` — the
    filesystem-agnostic handle (local, HDFS, mounted object store)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _delete_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` if it exists (no-op otherwise) — the
    stale-staging clear of the staged commits in this module and the
    partial-partition clear of the streaming embedding sink."""
    fs, hpath = _bucket_fs(spark, path)
    p = hpath(path)
    if fs.exists(p):
        fs.delete(p, True)


def _write_bucket_marker(spark: SparkSession, path: str, n_buckets: int) -> None:
    """Persist the ``_n_buckets`` marker (overwrites; underscore-prefixed
    so parquet readers ignore it)."""
    fs, hpath = _bucket_fs(spark, path)
    out = fs.create(hpath(path.rstrip("/") + "/_n_buckets"), True)
    try:
        out.write(str(n_buckets).encode())
    finally:
        out.close()


def _check_bucket_count(spark: SparkSession, path: str, n_buckets: int) -> None:
    """Validate ``n_buckets`` against the state's persisted marker: a key
    lives entirely inside its ``pmod(hash, n_buckets)`` bucket, so a
    merge run with a DIFFERENT bucket count would read the wrong touched
    set and silently duplicate keys across buckets. The first write
    records the marker; every later merge must match or gets a loud
    ValueError.

    A legacy dir with NO marker is not trusted blindly (ADVICE r10 —
    one wrong call on a pre-marker dir would both corrupt that merge and
    persist the wrong count as truth): its existing ``_bucket=N``
    partition dirs are validated structurally (every N must be
    < n_buckets) before the current value is adopted, and the adoption
    is warned loudly. The structural check cannot prove the ORIGINAL
    count wasn't a larger one whose high buckets happen to be empty —
    hence the warning rather than silence."""
    fs, hpath = _bucket_fs(spark, path)
    marker = hpath(path.rstrip("/") + "/_n_buckets")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            recorded = int(bytes(stream.readAllBytes()).decode().strip())
        finally:
            stream.close()
        if recorded != n_buckets:
            raise ValueError(
                f"bucketed state at {path} was written with n_buckets="
                f"{recorded}, merge called with n_buckets={n_buckets}: "
                "mismatched bucketing silently duplicates keys — pass the "
                "original bucket count"
            )
    elif fs.exists(hpath(path)):
        names = [st.getPath().getName() for st in fs.listStatus(hpath(path))]
        flat = sorted(n for n in names if not n.startswith(("_", ".")))
        if flat:
            raise ValueError(
                f"{path} holds data outside _bucket= partitions ({flat[:3]}): "
                "it is a flat table (e.g. written by upsert_by_key), and new "
                "_bucket= partitions would hide its rows from every reader — "
                "rewrite it with upsert_by_key_incremental into a new path"
            )
        ids = [int(n.split("=", 1)[1]) for n in names if n.startswith("_bucket=")]
        bad = sorted(i for i in ids if i >= n_buckets)
        if bad:
            raise ValueError(
                f"marker-less bucketed state at {path} holds bucket ids "
                f"{bad} >= n_buckets={n_buckets}: it was written with a "
                "larger bucket count — pass the original count"
            )
        warnings.warn(
            f"adopting n_buckets={n_buckets} for marker-less bucketed state "
            f"at {path} (existing bucket ids validated structurally; if the "
            "dir was written with a LARGER count whose high buckets are "
            "empty, this adoption is wrong — verify the original count)",
            stacklevel=3,
        )
        _write_bucket_marker(spark, path, n_buckets)


def _heal_bucket_swap(spark: SparkSession, path: str) -> None:
    """Crash recovery for the per-bucket staging swap: a COMPLETE staging
    dir is finished — every staged bucket replaces its final counterpart;
    an INCOMPLETE one is discarded — the stream's retry of the same batch
    rewrites it. Single-writer contract (one stream per state dir), same
    as every state sink in this package. Only consumes
    ``.staging-buckets`` dirs (see the suffix constants).

    COMPLETE means both ``_SUCCESS`` (the parquet job committed) AND
    ``_n_buckets`` (the driver finished staging the marker) exist: the
    marker is written after the job commit, so gating on both closes the
    crash window between them — a staging with ``_SUCCESS`` but no
    marker is discarded and the batch retried, never healed into a
    committed-but-marker-less final dir (which would silently downgrade
    the hard bucket-count check to warn-only structural adoption)."""
    fs, hpath = _bucket_fs(spark, path)
    staging = path.rstrip("/") + _STAGING_BUCKETS
    sp = hpath(staging)
    if not fs.exists(sp):
        return
    if fs.exists(hpath(staging + "/_SUCCESS")) and fs.exists(
        hpath(staging + "/_n_buckets")
    ):
        fs.mkdirs(hpath(path))
        for st in fs.listStatus(sp):
            name = st.getPath().getName()
            if not name.startswith("_bucket="):
                continue
            dst = hpath(path.rstrip("/") + "/" + name)
            if fs.exists(dst):
                fs.delete(dst, True)
            if not fs.rename(st.getPath(), dst):
                raise IOError(f"bucket swap failed: {name} -> {path}")
        # the marker travels WITH the staged commit (written into staging
        # before the swap): install it if the final dir lacks one, so no
        # crash point leaves a committed-but-marker-less state that would
        # downgrade the hard count check to warn-only adoption. Never
        # overwrites an existing marker — the merge validated it at start.
        smarker = hpath(staging + "/_n_buckets")
        fmarker = hpath(path.rstrip("/") + "/_n_buckets")
        if fs.exists(smarker) and not fs.exists(fmarker):
            if not fs.rename(smarker, fmarker):
                raise IOError(f"bucket marker install failed at {path}")
    fs.delete(sp, True)


def merge_touched_buckets(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    order: list[Column],
    n_buckets: int,
    bucket_col: str = "_bucket",
) -> None:
    """The touched-bucket MERGE approximation, shared by the incremental
    upsert sink (keep-latest) and the streaming URL-dedup state
    (keep-best): ``batch`` already carries ``bucket_col``; the union of
    the touched table buckets and the batch collapses to the first row
    per ``key`` under ``order``, which may sort on the temporary
    :data:`SOURCE_RANK` (0 on batch rows, 1 on table rows). Only the
    buckets the batch touches are read, merged, and replaced.

    One plan, whose write is its only action: the table is read with the
    batch's schema (no inference job); the touched buckets are a
    broadcast left-semi join on ``bucket_col``, which dynamic partition
    pruning turns into a scan of those bucket dirs only (the
    ``bucket_col < n_buckets`` filter states the bucket range and marks
    the broadcast side selective, which the pruning rule asks for); and
    the union is hash-partitioned on ``bucket_col`` once, which both the
    (bucket, key) window and the partitioned write reuse — so each bucket
    lands in one task and one file (without it every writing task splays
    a file into every bucket dir: 5.1 s vs 1.3 s and 4,098 vs 130 files
    at gate scale, PERF.md r10). The partition count is left to AQE.

    Commit protocol: the merged buckets are written to a sibling
    ``.staging-buckets`` dir first, then each staged bucket dir REPLACES
    its final counterpart via rename — so a crash can never leave a
    bucket half-written, and :func:`_heal_bucket_swap` (run at the start
    of every merge) finishes or discards an interrupted swap using the
    staging write's ``_SUCCESS`` and ``_n_buckets`` markers as the
    completeness signal. The remaining exposure is bounded to the healed
    window — unlike a dynamic-partition overwrite, whose delete-then-move
    inside the committer can lose a bucket's PRIOR rows with nothing on
    disk to recover from. ``n_buckets`` is validated against the state's
    persisted marker (:func:`_check_bucket_count`). The whole-tree heal
    also runs, for a ``.staging-full`` left by the saturated-batch full
    rewrite this merge used to take, and so does the pre-suffix
    ``.staging`` migration heal."""
    _heal_bucket_swap(spark, path)
    _heal_legacy_staging(spark, path)
    _heal_full_swap(spark, path)
    _check_bucket_count(spark, path, n_buckets)
    existing = _read_existing(spark, path, batch.schema)
    if existing is not None:
        touched = batch.select(bucket_col).distinct().where(
            F.col(bucket_col) < n_buckets
        )
        existing = existing.join(F.broadcast(touched), bucket_col, "left_semi")
    merged = _first_per_key(existing, batch, key, order, bucket_col)
    staging = path.rstrip("/") + _STAGING_BUCKETS
    merged.write.mode("overwrite").partitionBy(bucket_col).parquet(staging)
    # the marker rides the staged commit: a bucket staging only counts
    # as COMPLETE once BOTH _SUCCESS and _n_buckets exist (the heal's
    # gate), so a crash before this marker write discards the staging
    # and the batch retries — no crash point heals committed buckets
    # into a marker-less final dir
    _write_bucket_marker(spark, staging, n_buckets)
    fs, hpath = _bucket_fs(spark, path)
    if not fs.exists(hpath(staging + "/_SUCCESS")):
        raise IOError(
            f"staging write at {staging} left no _SUCCESS marker — refusing "
            "to swap (set mapreduce.fileoutputcommitter.marksuccessfuljobs)"
        )
    _heal_bucket_swap(spark, path)  # the swap IS the heal of a complete staging


def upsert_by_key_incremental(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    key: str = "_key",
    n_buckets: int = 16,
) -> None:
    """Incremental upsert: hash-bucket the key space into ``n_buckets``
    parquet partitions and rewrite ONLY the buckets the batch touches
    (ROADMAP 3 — the lakehouse-free approximation of MERGE INTO).

    A key lives entirely inside its ``pmod(xxhash64(key), n_buckets)``
    bucket, so per-bucket merge preserves upsert-by-key semantics while
    leaving untouched buckets' files alone. At 100 TB with a well-sized
    bucket count, a small batch rewrites |touched buckets| / n_buckets
    of the table instead of all of it. Keep-latest is
    :func:`latest_order`; commit, crash recovery and bucket-count
    validation are :func:`merge_touched_buckets`.
    """
    batch = new_df.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )
    merge_touched_buckets(
        spark, batch, path, key, latest_order(new_df.columns), n_buckets
    )


def read_bucketed(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a key-bucketed table (:func:`merge_touched_buckets`) as its
    last committed merge left it, ``_bucket`` column kept; None before
    the first write. A merge cut inside its swap leaves a complete
    staging (``_SUCCESS`` and ``_n_buckets``) whose buckets the final
    dir may lack — the delete→rename window: those buckets are read from
    the staging, every other bucket from the final dir. The read changes
    nothing on disk: only the next merge finishes the swap
    (:func:`_heal_bucket_swap`), so a reader never races the writer's
    own swap."""
    fs, hpath = _bucket_fs(spark, path)
    staging = path.rstrip("/") + _STAGING_BUCKETS
    staged = []
    if fs.exists(hpath(staging + "/_SUCCESS")) and fs.exists(
        hpath(staging + "/_n_buckets")
    ):
        found = fs.globStatus(hpath(staging + "/_bucket=*")) or []
        staged = [int(st.getPath().getName().split("=", 1)[1]) for st in found]
    swapped = _read_existing(spark, staging) if staged else None
    table = _read_existing(spark, path)
    if swapped is None:  # no swap was cut, or it finished meanwhile
        return table
    if table is None:  # a first write cut inside its swap
        return swapped
    return table.where(~F.col("_bucket").isin(staged)).unionByName(
        swapped, allowMissingColumns=True
    )


def read_upserted(spark: SparkSession, path: str) -> DataFrame:
    """Read an upserted table, hiding the bookkeeping columns (tables
    written before the source rank replaced it still carry
    ``_ingest_version``). A bucketed table reads through
    :func:`read_bucketed`, so a read never misses a bucket a crash left
    only in the staging."""
    df = read_bucketed(spark, path)
    if df is None:
        raise FileNotFoundError(f"no upserted table at {path}")
    return df.drop(*[c for c in ("_bucket", "_ingest_version") if c in df.columns])


def export_shards(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    tokens_per_shard: int,
    key_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    seed: str = "s0",
) -> DataFrame:
    """Write a corpus as size-balanced training shards — the export
    last-mile in one call: ``assign_shards`` (deterministic md5-tape
    assignment, two-phase global cumsum) → parquet partitioned by
    ``shard_id`` under ``<path>/data`` → the shard manifest (doc/token
    totals + [first_key, last_key] ranges) under ``<path>/manifest``.
    Returns the manifest frame read back from disk.

    Layout discipline (the r10 partitionBy lesson): rows repartition on
    ``shard_id`` BEFORE ``partitionBy`` — without the co-partition every
    task writes a sliver into every shard directory (tasks × shards tiny
    files; 4,098 vs 130 measured in PERF.md r10); with it each shard's
    rows land in exactly one task, one file per shard. Rows sort within
    partitions by ``ord_key``, so a shard's byte layout is a pure
    function of corpus content — re-exports are bit-comparable and a
    sequential trainer reading file order replays the manifest order.

    Determinism end-to-end: same corpus + same (key_col, seed, budget)
    → same assignment, same manifest, same per-shard file content.
    Incremental follow-ups route by manifest range (``route_to_shards``)
    instead of re-running this.
    """
    from token_etl_spark.operators.curation import assign_shards, shard_manifest

    assigned = assign_shards(
        df,
        tokens_per_shard,
        key_col=key_col,
        token_col=token_col,
        text_col=text_col,
        seed=seed,
    )
    # sort by (shard_id, ord_key), not ord_key alone: the dynamic-
    # partition writer requires ordering by the partition column and
    # would insert its OWN sort on shard_id whose stability is not
    # guaranteed once it spills — satisfying the required ordering
    # ourselves keeps equal-shard rows in ord_key order by construction
    # (review-found r11)
    (
        assigned.repartition("shard_id")
        .sortWithinPartitions("shard_id", "ord_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(f"{path}/data")
    )
    # manifest derived from the WRITTEN data, not the in-memory frame —
    # what the export audits is what readers will actually see (the
    # partition-path column comes back as int; restore the long contract)
    written = spark.read.parquet(f"{path}/data").withColumn(
        "shard_id", F.col("shard_id").cast("long")
    )
    shard_manifest(written).write.mode("overwrite").parquet(f"{path}/manifest")
    # persist the routing parameters beside the manifest: incremental
    # consumers (route_to_shards / the streaming router) MUST use the
    # same (key_col, seed) or keys land in foreign ranges — recording
    # them makes that mismatch detectable instead of silently corrupting
    # the layout (review-found r11)
    spark.createDataFrame(
        [(key_col, seed, int(tokens_per_shard))],
        "key_col string, seed string, tokens_per_shard long",
    ).write.mode("overwrite").parquet(f"{path}/params")
    return spark.read.parquet(f"{path}/manifest")


# ---------------------------------------------------------------------------
# shard-layout maintenance: split + incremental compaction
#
# Both actions rewrite a SMALL set of shard dirs plus the manifest, so
# they share one staged-commit protocol: stage complete replacement
# shard dirs and a complete replacement manifest under
# ``<path>.staging-shards``, write the ``_LAYOUT_COMMITTED`` marker
# only after every staged write returned, then rename each staged item
# into place and drop the staging root. A crash before the marker
# discards the staging (the caller retries); a crash after it is
# finished by ``_heal_shard_layout`` — run at the start of every
# maintenance action, so the one non-atomic window (between individual
# renames) self-heals on the next write. Readers read a committed
# staging in place (``_committed_shard_layout``) and change nothing.
# Single-writer, like every state sink here.

_STAGING_SHARDS = ".staging-shards"
_SHARD_COMMIT_MARKER = "_LAYOUT_COMMITTED"
_DROP_INCOMING_FLAG = "_DROP_INCOMING"
#: staged tombstone: a file named _DROP_SHARD_ID=<N> in the staging root
#: makes the commit DELETE data/shard_id=<N> (the merge lever retires the
#: absorbed shard's dir; delete-if-exists, so replay stays idempotent)
_DROP_SHARD_PREFIX = "_DROP_SHARD_ID="


def _touch_marker(spark: SparkSession, file_path: str) -> None:
    fs, hpath = _bucket_fs(spark, file_path)
    fs.create(hpath(file_path), True).close()


def _apply_shard_layout(spark: SparkSession, path: str) -> None:
    """Perform (or re-perform, after a crash) the staged shard-layout
    commit: every staged ``shard_id=N`` dir replaces its counterpart
    under ``data/``, the staged manifest replaces ``manifest/``, the
    ``incoming/`` tree drops iff the staging carries the flag, and the
    staging root is removed. Each rename consumes its staged item, so
    re-running after any crash point is idempotent."""
    base = path.rstrip("/")
    root = base + _STAGING_SHARDS
    fs, hpath = _bucket_fs(spark, path)
    sp = hpath(root)
    # tombstones FIRST (the merge lever retires the absorbed shard's
    # dir): delete-if-exists, so a crashed-and-replayed commit is a
    # no-op on the second pass; the absorbed rows live in the staged
    # kept-shard dir, which renames below, so no crash point loses data
    for st in fs.listStatus(sp):
        name = st.getPath().getName()
        if name.startswith(_DROP_SHARD_PREFIX):
            victim = hpath(
                f"{base}/data/shard_id={int(name[len(_DROP_SHARD_PREFIX):])}"
            )
            if fs.exists(victim):
                fs.delete(victim, True)
    for st in fs.listStatus(sp):
        name = st.getPath().getName()
        if name.startswith("shard_id="):
            dst = hpath(f"{base}/data/{name}")
            if fs.exists(dst):
                fs.delete(dst, True)
            if not fs.rename(st.getPath(), dst):
                raise IOError(f"shard layout commit failed: {name} -> {base}/data")
    man_src = hpath(root + "/manifest")
    if fs.exists(man_src):
        dst = hpath(base + "/manifest")
        if fs.exists(dst):
            fs.delete(dst, True)
        if not fs.rename(man_src, dst):
            raise IOError(f"shard layout commit failed: manifest -> {base}")
    if fs.exists(hpath(root + "/" + _DROP_INCOMING_FLAG)):
        _delete_dir(spark, base + "/incoming")
    fs.delete(sp, True)


def _heal_shard_layout(spark: SparkSession, path: str) -> None:
    """Crash recovery for the shard-layout commit, run by the writers
    only (the maintenance actions): a staging root WITH the
    ``_LAYOUT_COMMITTED`` marker is finished (the commit only starts
    after every staged write returned), one without it is discarded —
    the interrupted caller retries from scratch. Readers never heal:
    they read a committed staging in place (:func:`_committed_shard_layout`),
    so two of them can never both rename one staged shard — the second
    would delete the first's rename and lose the shard's rows."""
    root = path.rstrip("/") + _STAGING_SHARDS
    fs, hpath = _bucket_fs(spark, path)
    if not fs.exists(hpath(root)):
        return
    if fs.exists(hpath(root + "/" + _SHARD_COMMIT_MARKER)):
        _apply_shard_layout(spark, path)
    else:
        fs.delete(hpath(root), True)


def _committed_shard_layout(spark: SparkSession, path: str) -> dict:
    """Where to read a shard layout as its last commit left it, changing
    nothing on disk (the :func:`_committed_tree` rule for the staged
    shard commit). Without a committed ``.staging-shards`` (none, or a
    marker-less one an in-flight writer owns) that is the layout itself.
    With one — a commit cut anywhere inside :func:`_apply_shard_layout`,
    whose renames each consume their staged item — the shard dirs still
    staged replace their ``data/`` counterparts, tombstoned shards are
    gone, a still-staged manifest replaces ``manifest/`` and a staged
    drop flag hides ``incoming/``.

    Returns ``data`` (the shard rows, ``shard_id`` as read), ``manifest``
    (the manifest dir to read) and ``incoming`` (whether ``incoming/``
    is part of the layout)."""
    base = path.rstrip("/")
    root = base + _STAGING_SHARDS
    fs, hpath = _bucket_fs(spark, path)
    data = spark.read.parquet(f"{base}/data")
    if not fs.exists(hpath(root + "/" + _SHARD_COMMIT_MARKER)):
        return {"data": data, "manifest": f"{base}/manifest", "incoming": True}
    names = [st.getPath().getName() for st in fs.listStatus(hpath(root))]
    staged = [n for n in names if n.startswith("shard_id=")]
    replaced = [int(n.split("=", 1)[1]) for n in staged] + [
        int(n[len(_DROP_SHARD_PREFIX):]) for n in names if n.startswith(_DROP_SHARD_PREFIX)
    ]
    if replaced:
        data = data.where(~F.col("shard_id").isin(replaced))
    if staged:
        data = data.unionByName(
            spark.read.option("basePath", root).parquet(*[f"{root}/{n}" for n in staged])
        )
    return {
        "data": data,
        "manifest": f"{root}/manifest" if "manifest" in names else f"{base}/manifest",
        "incoming": _DROP_INCOMING_FLAG not in names,
    }


def split_shard(spark: SparkSession, path: str, shard_id: int) -> DataFrame:
    """Split one over-budget shard's key range in two — the maintenance
    lever the range-sharding discipline promises (``route_to_shards``:
    "shards grow until the owner splits them"; a hot range — a crawl
    revisiting one site — would otherwise grow one shard without
    bound). Manifest-local decision, shard-local I/O: ONLY the target
    shard's rows are read and rewritten (two halves, one file each,
    ``ord_key``-sorted — the export layout), every other shard's bytes
    are untouched, and the updated manifest swaps in atomically via the
    staged-commit protocol above.

    The split point is :func:`~token_etl_spark.operators.curation.
    split_shard_rows` (token-balanced, document-count fallback); the
    second half takes ``max(shard_id) + 1`` — routing is by key RANGE
    (greatest ``first_key`` <= key), so shard ids are labels and need
    not stay contiguous. Ranges stay disjoint and ordered by
    construction: the new shard's ``first_key`` is the boundary
    document's key, strictly after every first-half key.

    Contract: quiesced stream, compacted layout — stream increments
    routed under the OLD range carry the old shard label, so splitting
    a shard that still has rows under ``incoming/`` would strand them;
    the call refuses and points at
    :func:`compact_incremental_shards`. Documents OUTSIDE the split
    range route identically before and after (pinned in
    tests/test_sinks.py); documents inside land in the half their key
    falls in.

    Returns the post-split manifest read back from disk.
    """
    from token_etl_spark.operators.curation import shard_manifest, split_shard_rows

    base = path.rstrip("/")
    _heal_shard_layout(spark, path)
    manifest = spark.read.parquet(f"{base}/manifest")
    target = manifest.where(F.col("shard_id") == int(shard_id)).collect()
    if not target:
        raise ValueError(
            f"split_shard: shard {shard_id} is not in the manifest at {path}"
        )
    if target[0]["n_docs"] < 2:
        raise ValueError(
            f"split_shard: shard {shard_id} holds a single document — no "
            "document is ever cut, so a 1-document shard cannot split"
        )
    _refuse_pending_increments(spark, path, [int(shard_id)], "split_shard")
    new_sid = int(manifest.agg(F.max("shard_id")).collect()[0][0]) + 1
    shard_rows = spark.read.parquet(f"{base}/data/shard_id={int(shard_id)}")
    halves = split_shard_rows(shard_rows, int(shard_id), new_sid)

    staging = base + _STAGING_SHARDS
    _delete_dir(spark, staging)
    # ONE job writes both halves (the compact pattern below): the
    # unpartitioned split window over the target shard runs once, not
    # once per half (review-found r12); the manifest then derives from
    # the data actually WRITTEN — the export_shards audit discipline
    (
        halves.repartition("shard_id")
        .sortWithinPartitions("shard_id", "ord_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(staging)
    )
    staged = spark.read.parquet(staging).withColumn(
        "shard_id", F.col("shard_id").cast("long")
    )
    new_manifest = manifest.where(F.col("shard_id") != int(shard_id)).unionByName(
        shard_manifest(staged).select(manifest.columns)
    )
    new_manifest.write.mode("overwrite").parquet(f"{staging}/manifest")
    _touch_marker(spark, f"{staging}/{_SHARD_COMMIT_MARKER}")
    _apply_shard_layout(spark, path)
    return spark.read.parquet(f"{base}/manifest")


def _refuse_pending_increments(
    spark: SparkSession, path: str, shard_ids: list[int], action: str
) -> None:
    """Refuse a maintenance action while any of ``shard_ids`` still has
    stream increments under ``incoming/`` — increments carry the OLD
    shard label, so re-ranging now would strand them; the caller is
    pointed at :func:`compact_incremental_shards` (the split lever's
    refusal discipline, shared with merge)."""
    base = path.rstrip("/")
    fs, hpath = _bucket_fs(spark, path)
    incp = hpath(f"{base}/incoming")
    if not fs.exists(incp):
        return
    for st in fs.listStatus(incp):
        if not st.isDirectory():
            continue
        for sid in shard_ids:
            if fs.exists(hpath(f"{st.getPath().toString()}/shard_id={int(sid)}")):
                raise ValueError(
                    f"{action}: shard {sid} has stream increments under "
                    "incoming/ — run compact_incremental_shards first "
                    "(re-ranging now would strand their old-range labels)"
                )


def merge_shards(
    spark: SparkSession, path: str, shard_id_a: int, shard_id_b: int
) -> DataFrame:
    """Fold two ADJACENT undersized key ranges into one — the dual of
    :func:`split_shard` and the third leg of the maintenance triad
    (audit observable, compact, split + merge): a corpus that shrinks
    under aggressive dedup, or a split that later proves premature,
    otherwise leaves permanent sliver shards wasting file handles.

    Manifest-local decision, shard-local I/O: ONLY the two shards' rows
    are read and rewritten (one ``ord_key``-sorted file under the
    surviving id — the export layout), every other shard's bytes are
    untouched, and the updated manifest swaps in atomically via the
    staged-commit protocol, with a ``_DROP_SHARD_ID=<N>`` tombstone
    retiring the absorbed shard's dir in the same commit (delete
    happens before the staged rename and is delete-if-exists, so a
    crashed commit replays idempotently and no crash point loses rows —
    the absorbed rows are in the staged kept dir).

    The shard with the SMALLER ``first_key`` survives (the merged range
    starts at its ``first_key``, so routing by greatest-first_key-<=-key
    is unchanged for every document outside the pair and sends the
    absorbed range's documents to the kept shard). The pair must be
    ADJACENT in first_key order — merging across a gap would swallow
    the in-between shard's range and re-route ITS documents too; the
    call refuses. Same quiesced-stream discipline as split: increments
    under ``incoming/`` for either shard refuse and point at
    :func:`compact_incremental_shards`.

    Arithmetic: :func:`~token_etl_spark.operators.curation.
    merge_shard_rows` (counts/tokens add, range is the union) — but the
    committed manifest row derives from the rows actually WRITTEN
    (``shard_manifest`` over the staged read-back, the export audit
    discipline), with the pure arithmetic driver-proven separately
    (``ext_shard_merge``). Size policy is the CALLER's (what counts as
    "undersized" is a layout decision); this lever does the mechanics.

    Returns the post-merge manifest read back from disk.
    """
    from token_etl_spark.operators.curation import shard_manifest

    base = path.rstrip("/")
    _heal_shard_layout(spark, path)
    manifest = spark.read.parquet(f"{base}/manifest")
    rows = {
        r["shard_id"]: r
        for r in manifest.where(
            F.col("shard_id").isin(int(shard_id_a), int(shard_id_b))
        ).collect()
    }
    for sid in (shard_id_a, shard_id_b):
        if int(sid) not in rows:
            raise ValueError(
                f"merge_shards: shard {sid} is not in the manifest at {path}"
            )
    if int(shard_id_a) == int(shard_id_b):
        raise ValueError("merge_shards: cannot merge a shard with itself")
    keep, drop = sorted(rows.values(), key=lambda r: r["first_key"])
    between = manifest.where(
        (F.col("first_key") > keep["first_key"])
        & (F.col("first_key") < drop["first_key"])
    ).count()
    if between:
        raise ValueError(
            f"merge_shards: shards {shard_id_a} and {shard_id_b} are not "
            f"adjacent — {between} shard(s) hold ranges between them, and "
            "merging across a gap would swallow and re-route their ranges"
        )
    _refuse_pending_increments(
        spark, path, [keep["shard_id"], drop["shard_id"]], "merge_shards"
    )

    pair = spark.read.parquet(
        f"{base}/data/shard_id={keep['shard_id']}",
        f"{base}/data/shard_id={drop['shard_id']}",
    ).withColumn("shard_id", F.lit(int(keep["shard_id"])).cast("long"))

    staging = base + _STAGING_SHARDS
    _delete_dir(spark, staging)
    # one job writes the merged shard (the split-lever pattern); the
    # manifest row then derives from the data actually written
    (
        pair.repartition("shard_id")
        .sortWithinPartitions("shard_id", "ord_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(staging)
    )
    staged = spark.read.parquet(staging).withColumn(
        "shard_id", F.col("shard_id").cast("long")
    )
    new_manifest = manifest.where(
        ~F.col("shard_id").isin(keep["shard_id"], drop["shard_id"])
    ).unionByName(shard_manifest(staged).select(manifest.columns))
    new_manifest.write.mode("overwrite").parquet(f"{staging}/manifest")
    _touch_marker(
        spark, f"{staging}/{_DROP_SHARD_PREFIX}{drop['shard_id']}"
    )
    _touch_marker(spark, f"{staging}/{_SHARD_COMMIT_MARKER}")
    _apply_shard_layout(spark, path)
    return spark.read.parquet(f"{base}/manifest")


def audit_shard_layout(spark: SparkSession, path: str) -> DataFrame:
    """The layout-integrity OBSERVABLE beside the split/compact levers
    (the index-health/retrain pairing discipline): recompute per-shard
    (n_docs, shard_tokens, first_key, last_key) from the data actually
    on disk — base tree plus any stream increments, exactly what
    ``read_incremental_shards`` serves — and compare against the
    manifest. One combinable groupBy at shard cardinality + a full
    outer join of two manifest-sized frames; the corpus rows never
    shuffle beyond the count.

    Emits one row per shard id seen on either side with ``status``:
    'ok' (all four fields agree), 'drift' (same shard, different
    accounting — e.g. un-compacted increments grew it, or a foreign
    writer touched the tree), 'manifest_only' (claimed but no data —
    the lost-dir failure a reader must know about), 'data_only'
    (rows outside any claimed shard). ``pending_increments`` marks
    drift explained by incoming/ batches awaiting
    :func:`compact_incremental_shards` — expected, not corruption.
    """
    from token_etl_spark.operators.curation import shard_manifest
    from token_etl_spark.streaming.curation import read_incremental_shards

    base = path.rstrip("/")
    # the committed layout, read in place: a crash-cut split/compaction
    # is audited as committed, and the audit changes nothing on disk
    layout = _committed_shard_layout(spark, path)
    manifest = spark.read.parquet(layout["manifest"])
    actual = shard_manifest(read_incremental_shards(spark, path))
    inc = _read_existing(spark, f"{base}/incoming") if layout["incoming"] else None
    inc_sids = (
        inc.select(F.col("shard_id").cast("long")).distinct()
        if inc is not None
        else spark.createDataFrame([], "shard_id long")
    ).withColumn("_has_inc", F.lit(True))
    m = manifest.select(
        "shard_id",
        *[F.col(c).alias(f"m_{c}") for c in ("n_docs", "shard_tokens", "first_key", "last_key")],
    )
    a = actual.select(
        "shard_id",
        *[F.col(c).alias(f"d_{c}") for c in ("n_docs", "shard_tokens", "first_key", "last_key")],
    )
    joined = m.join(a, "shard_id", "full_outer").join(
        F.broadcast(inc_sids), "shard_id", "left"
    )
    agree = (
        (F.col("m_n_docs") == F.col("d_n_docs"))
        & (F.col("m_shard_tokens") == F.col("d_shard_tokens"))
        & (F.col("m_first_key") == F.col("d_first_key"))
        & (F.col("m_last_key") == F.col("d_last_key"))
    )
    status = (
        F.when(F.col("d_n_docs").isNull(), F.lit("manifest_only"))
        .when(F.col("m_n_docs").isNull(), F.lit("data_only"))
        .when(agree, F.lit("ok"))
        .otherwise(F.lit("drift"))
    )
    return joined.select(
        "shard_id",
        status.alias("status"),
        F.coalesce("_has_inc", F.lit(False)).alias("pending_increments"),
        "m_n_docs", "d_n_docs", "m_shard_tokens", "d_shard_tokens",
        "m_first_key", "d_first_key", "m_last_key", "d_last_key",
    )


def compact_incremental_shards(spark: SparkSession, path: str) -> DataFrame:
    """Fold every stream-routed increment (``incoming/``, written by
    ``run_streaming_shard_router``) into the base ``data/`` tree: each
    TOUCHED shard's dir rewrites as one ``ord_key``-sorted file holding
    base + increment rows, the manifest rows for touched shards
    recompute (counts, token totals, ranges — a prepend can extend a
    range downward), untouched shards' bytes never move, and the
    ``incoming/`` tree drops in the same staged commit. This is the
    pass that restores the one-file-per-shard export layout after a
    streaming window — and the precondition :func:`split_shard`
    enforces. Quiesced-stream contract: the router must not be writing
    concurrently (single-writer, like every state sink here).

    Returns the post-compaction manifest read back from disk; no-op
    (current manifest) when there are no increments.
    """
    from token_etl_spark.operators.curation import shard_manifest
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    base = path.rstrip("/")
    _heal_shard_layout(spark, path)
    inc = _read_partitioned_state(spark, f"{base}/incoming")
    if inc is None:
        return spark.read.parquet(f"{base}/manifest")
    inc = inc.withColumn("shard_id", F.col("shard_id").cast("long"))
    touched = sorted(r[0] for r in inc.select("shard_id").distinct().collect())
    manifest = spark.read.parquet(f"{base}/manifest")
    base_data = spark.read.parquet(f"{base}/data").withColumn(
        "shard_id", F.col("shard_id").cast("long")
    )
    merged = base_data.where(F.col("shard_id").isin(touched)).unionByName(
        inc.select(*base_data.columns)
    )
    staging = base + _STAGING_SHARDS
    _delete_dir(spark, staging)
    # co-partition before partitionBy (the r10 splay rule): one task —
    # one file — per touched shard, rows in ord_key order
    (
        merged.repartition("shard_id")
        .sortWithinPartitions("shard_id", "ord_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(staging)
    )
    new_manifest = manifest.where(~F.col("shard_id").isin(touched)).unionByName(
        shard_manifest(merged).select(manifest.columns)
    )
    new_manifest.write.mode("overwrite").parquet(f"{staging}/manifest")
    _touch_marker(spark, f"{staging}/{_DROP_INCOMING_FLAG}")
    _touch_marker(spark, f"{staging}/{_SHARD_COMMIT_MARKER}")
    _apply_shard_layout(spark, path)
    return spark.read.parquet(f"{base}/manifest")


def apply_shard_maintenance(
    spark: SparkSession,
    path: str,
    tokens_per_shard: int | None = None,
    split_factor: int = 2,
    merge_budget_num: int = 1,
    merge_budget_den: int = 1,
    max_actions: int = 16,
) -> tuple[DataFrame, list[dict], str]:
    """Drive plan → lever → re-plan to CONVERGENCE — the composed
    executor the planner-without-executor gap left to the operator
    (VERDICT r13 item 2; the retrain-lever and split-lever closures,
    one more turn of the crank): take
    :func:`~token_etl_spark.operators.curation.plan_shard_maintenance`'s
    recommendations, apply ONE lever, re-plan, repeat, until the plan is
    all-'ok', every remaining recommendation has refused, or the
    ``max_actions`` budget is spent.

    Policy per iteration (apply-one / re-audit / repeat — the planner's
    documented contract): SPLITS FIRST, largest shard first (an
    over-budget shard is the urgent case — it is the one growing), then
    merges, smallest combined pair first (the sliver-fold order the
    ``ext_shard_apply`` driver row replays via
    :func:`~token_etl_spark.operators.curation.merge_min_pair`; the
    executor's per-step merge choice is pinned equal to that arithmetic
    in tests/test_sinks.py). A lever that REFUSES — pending stream
    increments under ``incoming/``, a 1-doc shard — is recorded as
    'skipped' (once per unique action) and the next candidate is tried;
    refusals never wedge the loop and never trigger an implicit
    compact (quiescing the stream is the operator's call, not this
    function's).

    Convergence: merges strictly reduce shard count and a merged pair
    never re-splits as long as ``merge_budget_num / merge_budget_den <=
    split_factor`` (a merged shard holds <= tps·num/den <=
    split_factor·tps tokens — at most the split threshold, never over
    it); a policy violating that inequality could oscillate
    split↔merge forever, so it refuses up front. Splits are bounded by
    total token mass. ``max_actions`` is the hard cap regardless.

    tokens_per_shard=None adopts the budget the export was fit with
    (its ``params`` table — the router's adopt-or-refuse discipline,
    read side).

    Returns ``(post-loop manifest read back from disk, actions log,
    termination reason)`` where each log row is ``{step, action,
    shard_id, next_shard_id, status, reason}`` — status 'ok' for an
    applied lever, 'skipped' for a refusal — and the termination reason
    is one of ``'converged'`` (the plan is all-ok), ``'stalled'``
    (recommendations remain but every one refused — e.g. pending
    ``incoming/`` increments: the layout is still unmaintained) or
    ``'budget_exhausted'`` (``max_actions`` spent with actionable
    recommendations left; a loop whose LAST allowed action reaches an
    all-ok plan re-plans once and reports 'converged'). Inferring
    convergence from the action count was wrong in both directions
    (ADVICE r14). 100 TB shape: each iteration's plan is
    manifest-cardinality arithmetic (milliseconds) and each applied
    lever rewrites ONLY the affected shard's rows — the loop's total
    I/O is proportional to the shards that actually need maintenance,
    never to the corpus."""
    from token_etl_spark.operators.curation import plan_shard_maintenance

    if merge_budget_num > split_factor * merge_budget_den:
        raise ValueError(
            "apply_shard_maintenance: merge budget "
            f"{merge_budget_num}/{merge_budget_den} exceeds split_factor "
            f"{split_factor} — a merged shard could immediately qualify "
            "for split and the loop would oscillate; choose "
            "merge_budget_num/merge_budget_den <= split_factor"
        )
    base = path.rstrip("/")
    _heal_shard_layout(spark, path)
    if tokens_per_shard is None:
        tokens_per_shard = int(
            spark.read.parquet(f"{base}/params")
            .collect()[0]["tokens_per_shard"]
        )
    actions: list[dict] = []
    refused: set[tuple] = set()
    for step in range(int(max_actions)):
        manifest = spark.read.parquet(f"{base}/manifest")
        plan = plan_shard_maintenance(
            manifest,
            tokens_per_shard,
            split_factor=split_factor,
            merge_budget_num=merge_budget_num,
            merge_budget_den=merge_budget_den,
        ).collect()
        splits = sorted(
            (r for r in plan if r["action"] == "split"),
            key=lambda r: (-r["shard_tokens"], r["shard_id"]),
        )
        merge_rows = [r for r in plan if r["action"] == "merge_with_next"]
        if not splits and not merge_rows:
            return spark.read.parquet(f"{base}/manifest"), actions, "converged"
        # merge ties break toward the smaller first_key (the
        # merge_min_pair / ext_shard_merge rule). The plan frame does
        # not carry first_key, but its next_shard_id column IS the
        # range order — rebuild positions by walking the chain from the
        # head (the one shard that is nobody's successor), so the
        # tie-break never depends on collect() row order.
        succ = {r["shard_id"]: r["next_shard_id"] for r in plan}
        heads = set(succ) - {s for s in succ.values() if s is not None}
        pos: dict[int, int] = {}
        if len(heads) == 1:
            cur, i = heads.pop(), 0
            while cur is not None and cur not in pos:
                pos[cur] = i
                cur, i = succ.get(cur), i + 1
        if merge_rows and any(r["shard_id"] not in pos for r in merge_rows):
            # a merge candidate the rebuilt chain cannot place means the
            # manifest's range chain is malformed (no unique head, a
            # cycle, or a disconnected segment) — refusing loudly beats
            # a tie-break that silently degrades to collect() row order
            # (ADVICE r14)
            raise ValueError(
                "apply_shard_maintenance: manifest range chain is "
                f"malformed ({len(heads)} head(s)); cannot order merge "
                "ties deterministically — repair the manifest (audit) "
                "before applying maintenance"
            )
        merges = sorted(
            merge_rows,
            key=lambda r: (r["pair_tokens"], pos.get(r["shard_id"], 0)),
        )
        applied = False
        for r in splits:
            key = ("split", r["shard_id"])
            if key in refused:
                continue
            try:
                split_shard(spark, path, int(r["shard_id"]))
                actions.append({
                    "step": step, "action": "split",
                    "shard_id": int(r["shard_id"]), "next_shard_id": None,
                    "status": "ok", "reason": None,
                })
                applied = True
                break
            except ValueError as e:
                refused.add(key)
                actions.append({
                    "step": step, "action": "split",
                    "shard_id": int(r["shard_id"]), "next_shard_id": None,
                    "status": "skipped", "reason": str(e),
                })
        if not applied:
            for r in merges:
                key = ("merge", r["shard_id"], r["next_shard_id"])
                if key in refused:
                    continue
                try:
                    merge_shards(
                        spark, path, int(r["shard_id"]), int(r["next_shard_id"])
                    )
                    actions.append({
                        "step": step, "action": "merge",
                        "shard_id": int(r["shard_id"]),
                        "next_shard_id": int(r["next_shard_id"]),
                        "status": "ok", "reason": None,
                    })
                    applied = True
                    break
                except ValueError as e:
                    refused.add(key)
                    actions.append({
                        "step": step, "action": "merge",
                        "shard_id": int(r["shard_id"]),
                        "next_shard_id": int(r["next_shard_id"]),
                        "status": "skipped", "reason": str(e),
                    })
        if not applied:
            # candidates existed this step (the all-ok case returned
            # above) but every one refused — the layout is still
            # unmaintained and more budget would not help
            return spark.read.parquet(f"{base}/manifest"), actions, "stalled"
    # budget spent: one more manifest-arithmetic plan decides whether the
    # last action happened to finish the job
    manifest = spark.read.parquet(f"{base}/manifest")
    final_plan = plan_shard_maintenance(
        manifest,
        tokens_per_shard,
        split_factor=split_factor,
        merge_budget_num=merge_budget_num,
        merge_budget_den=merge_budget_den,
    ).collect()
    done = all(r["action"] == "ok" for r in final_plan)
    return manifest, actions, "converged" if done else "budget_exhausted"
