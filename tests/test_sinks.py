from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from token_etl_spark import fixtures
from token_etl_spark.io.sinks import upsert_by_key, write_csv, write_parquet
from token_etl_spark.pipelines.wallets import wallet_balance_changelogs


def test_csv_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double")
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == 2
    assert set(back.columns) == {"id", "s", "v"}


def test_upsert_by_key_overwrites_latest(spark, tmp_path):
    path = str(tmp_path / "upsert")
    v1 = spark.createDataFrame([("k1", 1), ("k2", 1)], "_key string, v int")
    upsert_by_key(spark, v1, path)
    v2 = spark.createDataFrame([("k2", 2), ("k3", 2)], "_key string, v int")
    upsert_by_key(spark, v2, path)
    got = {r["_key"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"k1": 1, "k2": 2, "k3": 2}  # k2 updated, k1 kept, k3 inserted


def test_token_wallets_map_schema_roundtrips_parquet(spark, tmp_path):
    transfers = fixtures.transfers_df(spark, n_rows=200, n_wallets=8)
    meta = fixtures.token_metadata_df(spark)
    out = wallet_balance_changelogs(transfers, meta, densify=False)
    path = str(tmp_path / "tw")
    write_parquet(out, path)
    back = spark.read.parquet(path)
    assert back.schema["balanceChangeLogs"].dataType.simpleString().startswith("map<bigint,struct")
    orig = {r["_key"]: r["balanceChangeLogs"] for r in out.collect()}
    rt = {r["_key"]: r["balanceChangeLogs"] for r in back.collect()}
    assert orig == rt


def test_incremental_upsert_matches_full_and_skips_untouched_buckets(spark, tmp_path):
    import os
    import time

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "inc_upsert")
    v1 = spark.createDataFrame(
        [(f"k{i}", 1) for i in range(40)], "_key string, v int"
    )
    upsert_by_key_incremental(spark, v1, path, n_buckets=8)
    before = {
        d: max(
            os.path.getmtime(os.path.join(path, d, f))
            for f in os.listdir(os.path.join(path, d))
        )
        for d in os.listdir(path)
        if d.startswith("_bucket=")
    }
    assert len(before) > 1  # keys spread over multiple buckets

    time.sleep(1.1)
    v2 = spark.createDataFrame([("k3", 2), ("k3b", 2)], "_key string, v int")
    upsert_by_key_incremental(spark, v2, path, n_buckets=8)

    got = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    expect = {f"k{i}": 1 for i in range(40)} | {"k3": 2, "k3b": 2}
    assert got == expect

    after = {
        d: max(
            os.path.getmtime(os.path.join(path, d, f))
            for f in os.listdir(os.path.join(path, d))
        )
        for d in os.listdir(path)
        if d.startswith("_bucket=")
    }
    rewritten = {d for d in before if after[d] > before[d]}
    assert rewritten  # the touched buckets were rewritten
    assert rewritten != set(before)  # ...but not every bucket


def _last_write_plan(spark, path: str) -> str:
    """The executed (final, adaptive) physical plan of the latest SQL
    execution that wrote under ``path``, from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 10), 10).iterator()
    plans = []
    while recent.hasNext():
        plan = recent.next().physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan and path in plan:
            plans.append(plan)
    assert plans, f"no write under {path} among the last SQL executions"
    return plans[-1]


def test_incremental_upsert_plan_prunes_and_shuffles_once(spark, tmp_path):
    """The sink's write is one plan: the table scan carries a dynamic
    partition filter on _bucket (the touched buckets, from the broadcast
    semi join), and exactly one Exchange — hashpartitioning on _bucket —
    sits between the union and the write (the window and the
    partitioned write share it)."""
    import re

    from token_etl_spark.io.sinks import upsert_by_key_incremental

    path = str(tmp_path / "plan_pin")
    rows = spark.createDataFrame([(f"k{i}", i) for i in range(40)], "_key string, v long")
    upsert_by_key_incremental(spark, rows, path, n_buckets=8)
    update = spark.createDataFrame([("k3", 33), ("new", 1)], "_key string, v long")
    upsert_by_key_incremental(spark, update, path, n_buckets=8)

    plan = _last_write_plan(spark, path)
    assert "dynamicpruningexpression(_bucket" in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    tree = final.splitlines()
    write = next(i for i, ln in enumerate(tree) if "InsertIntoHadoopFsRelationCommand" in ln)
    union = next(i for i, ln in enumerate(tree) if "Union" in ln)
    between = [ln for ln in tree[write:union] if re.search(r"\bExchange \(", ln)]
    assert len(between) == 1, between
    node = re.search(r"Exchange \((\d+)\)", between[0]).group(1)
    args = plan.split(f"({node}) Exchange")[1].split("Arguments: ")[1]
    assert re.match(r"hashpartitioning\(_bucket#\d+, \d+\)", args), args[:80]


def test_upsert_read_failure_is_not_first_write(spark, tmp_path):
    """A corrupt/unreadable existing table must RAISE, not be silently
    treated as table-absent (which would overwrite surviving buckets with
    batch-only contents)."""
    import pytest

    from token_etl_spark.io.sinks import upsert_by_key_incremental

    path = tmp_path / "corrupt_upsert"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    batch = spark.createDataFrame([("a", 1)], "_key string, v int")
    with pytest.raises(Exception) as exc_info:
        upsert_by_key_incremental(spark, batch, str(path), n_buckets=4)
    # the guard must not have swallowed the error into a fresh overwrite
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_upsert_within_batch_duplicate_keys_deterministic(spark, tmp_path):
    """Duplicate keys inside ONE batch share a source rank; the winner
    must be the same row on every rerun (content-hash tiebreak)."""
    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    rows = [("dup", i) for i in range(20)] + [("solo", 99)]
    winners = set()
    for attempt in range(3):
        path = str(tmp_path / f"dup_batch_{attempt}")
        batch = spark.createDataFrame(rows, "_key string, v int").repartition(8)
        upsert_by_key_incremental(spark, batch, path, n_buckets=4)
        got = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
        assert got["solo"] == 99 and len(got) == 2
        winners.add(got["dup"])
    assert len(winners) == 1  # same winner across independent runs


def test_incremental_upsert_repeated_batches_keep_latest(spark, tmp_path):
    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "inc_upsert2")
    for version in (1, 2, 3):
        batch = spark.createDataFrame(
            [("a", version), ("b", version * 10)], "_key string, v int"
        )
        upsert_by_key_incremental(spark, batch, path, n_buckets=4)
    got = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert got == {"a": 3, "b": 30}


def test_bucket_count_marker_rejects_mismatched_merge(spark, tmp_path):
    """A merge re-run with a different n_buckets must fail LOUDLY — a
    mismatched bucketing silently duplicates keys across buckets."""
    import pytest

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "marker_state")
    rows = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "_key string, v long")
    upsert_by_key_incremental(spark, rows, path, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_by_key_incremental(spark, rows, path, n_buckets=16)
    # the matching count still merges fine
    upsert_by_key_incremental(spark, rows, path, n_buckets=8)
    assert read_upserted(spark, path).count() == 20


def test_bucket_swap_heals_interrupted_commit(spark, tmp_path):
    """Crash windows of the staging swap, both sides: a COMPLETE staging
    dir (with _SUCCESS) left by a crash mid-swap is finished by the next
    merge — including a bucket whose final dir was already deleted — and
    an INCOMPLETE staging dir (no _SUCCESS) is discarded."""
    import os
    import shutil

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "heal_state")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(30)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, rows, path, n_buckets=4)
    before = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}

    # simulate a crash mid-swap: copy the CURRENT state into the
    # bucket-protocol staging dir, mark complete (_SUCCESS AND the
    # _n_buckets marker — the completeness gate requires both), delete
    # one final bucket
    staging = path + ".staging-buckets"
    shutil.copytree(path, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    victims = [d for d in os.listdir(path) if d.startswith("_bucket=")]
    shutil.rmtree(os.path.join(path, victims[0]))

    # next merge heals FIRST: nothing lost, then the batch applies
    update = spark.createDataFrame([("k0", 999)], "_key string, v long")
    upsert_by_key_incremental(spark, update, path, n_buckets=4)
    after = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert set(after) == set(before)
    assert after["k0"] == 999
    assert all(after[k] == before[k] for k in after if k != "k0")
    assert not os.path.exists(staging)

    # incomplete staging (no _SUCCESS) is discarded, state untouched
    shutil.copytree(path, staging)
    for f in list(os.listdir(staging)):
        if f == "_SUCCESS":
            os.remove(os.path.join(staging, f))
    upsert_by_key_incremental(spark, update, path, n_buckets=4)
    assert not os.path.exists(staging)
    assert {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()} == after


def test_upsert_full_swap_heals_and_discards(spark, tmp_path):
    """The whole-table upsert commits via staging+swap: a complete
    staging dir left by a crash supersedes the final table on the next
    upsert; an incomplete one is discarded."""
    import os
    import shutil

    path = str(tmp_path / "full_swap")
    mk = lambda rows: spark.createDataFrame(rows, "_key string, v long")
    upsert_by_key(spark, mk([("a", 1), ("b", 1)]), path)

    # complete staging (a crashed swap that had already finished its
    # write): heal must install it over the stale final table
    staging = path + ".staging-full"
    shutil.copytree(path, staging)
    newer = mk([("a", 99), ("b", 1)]).withColumn("_ingest_version", F.lit(7).cast("long"))
    shutil.rmtree(staging)
    newer.write.parquet(staging)
    assert os.path.exists(os.path.join(staging, "_SUCCESS"))
    upsert_by_key(spark, mk([("c", 5)]), path)
    got = {r["_key"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 99, "b": 1, "c": 5}
    assert not os.path.exists(staging)

    # incomplete staging: discarded, state keeps its committed rows
    os.makedirs(staging)
    open(os.path.join(staging, "part-garbage.parquet"), "w").write("x")
    upsert_by_key(spark, mk([("d", 6)]), path)
    got = {r["_key"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 99, "b": 1, "c": 5, "d": 6}
    assert not os.path.exists(staging)


def _write_partitioned(spark, root, v):
    spark.createDataFrame([(v,)], "x long").coalesce(1).write.parquet(f"{root}/batch_id=k{v}")


def _write_index(spark, root, v):
    spark.createDataFrame(
        [(v, [1.0, float(v)])], "centroid_id long, centroid_vec array<double>"
    ).coalesce(1).write.parquet(f"{root}/centroids")
    spark.createDataFrame(
        [(v, [1.0, float(v)], v)], "corpus_id long, cv array<double>, centroid_id long"
    ).coalesce(1).write.parquet(f"{root}/assignments")


def _write_retention(spark, root, v):
    spark.createDataFrame(
        [("u", v), ("u", v + 2)], "user string, period long"
    ).coalesce(1).write.parquet(root)


def _write_domain_stats(spark, root, v):
    """A provenance tree (stats + params) holding domain ``d<v>``; the
    final tree of the detection case (v == 1) is a bare frame instead."""
    stats = spark.createDataFrame([(f"d{v}",)], "domain string")
    if v == 1:
        stats.coalesce(1).write.parquet(root)
        return
    stats.coalesce(1).write.parquet(f"{root}/stats")
    spark.createDataFrame(
        [("lite", "")], "rule string, suffix_md5 string"
    ).coalesce(1).write.parquet(f"{root}/params")


def _whole_tree_readers():
    from token_etl_spark.operators import curation as C
    from token_etl_spark.streaming import dedup as D
    from token_etl_spark.streaming.stateful import retention_from_state

    def rows(df, col):
        return sorted(r[col] for r in df.collect())

    return {
        "read_partitioned_state": (
            _write_partitioned,
            lambda s, p: rows(D._read_partitioned_state(s, p), "x"),
        ),
        "read_quantizer": (
            _write_index,
            lambda s, p: rows(D._read_quantizer(s, p), "centroid_id"),
        ),
        "read_embedding_index": (
            _write_index,
            lambda s, p: rows(D.read_embedding_index(s, p), "corpus_id"),
        ),
        "retention_from_state": (
            _write_retention,
            lambda s, p: sorted(tuple(r) for r in retention_from_state(s, p).collect()),
        ),
        "is_saved_domain_stats": (_write_domain_stats, C.is_saved_domain_stats),
        "load_domain_stats": (
            lambda s, root, v: _write_domain_stats(s, root, v + 1),
            lambda s, p: rows(C.load_domain_stats(s, p), "domain"),
        ),
    }


@pytest.mark.parametrize(
    "reader",
    [
        "read_partitioned_state",
        "read_quantizer",
        "read_embedding_index",
        "retention_from_state",
        "is_saved_domain_stats",
        "load_domain_stats",
    ],
)
def test_whole_tree_readers_read_marked_staging_in_place(spark, tmp_path, reader):
    """A reader of a whole-tree state (``io.sinks._full_swap``) that
    finds a marked ``.staging-full`` returns the staged values and
    changes nothing on disk. Only writers heal: two heals over one
    staging both pass the marker check, and the second deletes the tree
    the first just promoted — two readers after a crash, or one reader
    beside the writer's closing heal, would lose the whole state."""
    from pathlib import Path

    write, read = _whole_tree_readers()[reader]
    path = str(tmp_path / "tree")
    staging = path + ".staging-full"
    write(spark, path, 1)
    write(spark, staging, 2)
    Path(staging, "_SUCCESS").touch()
    expected_path = str(tmp_path / "expected")
    write(spark, expected_path, 2)
    expected = read(spark, expected_path)

    def listing(root):
        return sorted(
            (str(p.relative_to(root)), p.stat().st_size)
            for p in Path(root).rglob("*")
            if p.is_file()
        )

    before = listing(path), listing(staging)
    assert read(spark, path) == expected
    assert (listing(path), listing(staging)) == before


def test_staging_protocols_do_not_cross_heal(spark, tmp_path):
    """The two commit protocols use DISTINCT staging suffixes (r10
    ADVICE): a complete bucket-protocol staging dir must never be
    consumed by the full-swap heal — renaming a bucket-only staging over
    the whole table would drop every untouched bucket — and vice versa."""
    import os
    import shutil

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "cross_heal")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(30)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, rows, path, n_buckets=4)
    before = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}

    # a crashed BUCKET swap holding only ONE bucket, marked complete
    bstaging = path + ".staging-buckets"
    os.makedirs(bstaging)
    buckets = [d for d in os.listdir(path) if d.startswith("_bucket=")]
    shutil.copytree(os.path.join(path, buckets[0]), os.path.join(bstaging, buckets[0]))
    open(os.path.join(bstaging, "_SUCCESS"), "w").close()

    # the FULL-swap heal (upsert_by_key path) must ignore it entirely:
    # if it renamed the one-bucket staging over the table, every other
    # bucket's keys would vanish
    from token_etl_spark.io.sinks import _heal_full_swap

    _heal_full_swap(spark, path)
    assert os.path.exists(bstaging)  # untouched by the other protocol
    after = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert after == before

    # the bucket-protocol heal consumes it (its own protocol)
    from token_etl_spark.io.sinks import _heal_bucket_swap

    _heal_bucket_swap(spark, path)
    assert not os.path.exists(bstaging)
    assert {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()} == before


def test_incremental_upsert_refuses_flat_table(spark, tmp_path):
    """An incremental upsert onto a flat table (written by upsert_by_key)
    must refuse: its new _bucket= partitions would shadow the flat part
    files in partition discovery, and every reader would silently see
    only the batch's rows."""
    import pytest

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "flat")
    mk = lambda lo, hi: spark.createDataFrame(
        [(f"k{i}", i) for i in range(lo, hi)], "_key string, v long"
    )
    upsert_by_key(spark, mk(0, 10), path)
    with pytest.raises(ValueError, match="flat table"):
        upsert_by_key_incremental(spark, mk(5, 15), path)
    got = sorted(r["_key"] for r in read_upserted(spark, path).collect())
    assert got == sorted(f"k{i}" for i in range(10))  # the table is untouched


def test_markerless_state_validated_before_adoption(spark, tmp_path):
    """A legacy bucketed dir with no _n_buckets marker is validated
    structurally before adoption (r10 ADVICE): bucket ids >= the passed
    count prove a larger original bucketing and raise; a structurally
    consistent dir adopts WITH a warning and persists the marker."""
    import os
    import warnings as w

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "legacy_state")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(40)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, rows, path, n_buckets=8)
    os.remove(os.path.join(path, "_n_buckets"))  # make it a legacy dir

    # a SMALLER count than an observed bucket id is provably wrong
    import pytest as _pytest

    with _pytest.raises(ValueError, match="larger bucket count"):
        upsert_by_key_incremental(
            spark, rows.limit(1), path, n_buckets=2
        )

    # the matching count adopts, warns, and re-persists the marker
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        upsert_by_key_incremental(spark, rows.limit(1), path, n_buckets=8)
    assert any("marker-less" in str(c.message) for c in caught)
    assert os.path.exists(os.path.join(path, "_n_buckets"))
    assert read_upserted(spark, path).count() == 40


def test_saturated_batch_merges_every_bucket(spark, tmp_path):
    """A batch touching every bucket goes through the same per-bucket
    merge as a small one: keep-latest per key, untouched keys intact,
    the bucket-count marker kept, and a later small batch still merges
    against the recorded count."""
    import os

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "saturated")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(64)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, rows, path, n_buckets=4)

    # uniform update batch: touches every bucket
    update = spark.createDataFrame(
        [(f"k{i}", i + 1000) for i in range(0, 64, 2)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, update, path, n_buckets=4)
    got = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert got == {
        f"k{i}": (i + 1000 if i % 2 == 0 else i) for i in range(64)
    }
    assert os.path.exists(os.path.join(path, "_n_buckets"))
    # a later SMALL batch must agree with the recorded count
    small = spark.createDataFrame([("k1", 7777)], "_key string, v long")
    upsert_by_key_incremental(spark, small, path, n_buckets=4)
    assert read_upserted(spark, path).filter("_key = 'k1'").collect()[0]["v"] == 7777


def test_legacy_staging_dirs_are_healed_on_upgrade(spark, tmp_path):
    """Pre-r10 code staged BOTH protocols at '<path>.staging'. A
    crash-interrupted swap from that code must still heal after the
    suffix split — worst case is the old full-swap window (final dir
    already deleted, the complete legacy staging holds the ONLY copy):
    ignoring it would rebuild the table from the next batch alone and
    silently drop every prior row (r10 review)."""
    import os
    import shutil

    from token_etl_spark.io.sinks import (
        read_upserted,
        upsert_by_key,
        upsert_by_key_incremental,
    )

    # 1) legacy FULL-swap crash: final dir gone, complete .staging only
    path = str(tmp_path / "legacy_full")
    mk = lambda rows: spark.createDataFrame(rows, "_key string, v long")
    upsert_by_key(spark, mk([("a", 1), ("b", 2)]), path)
    legacy = path + ".staging"
    shutil.move(path, legacy)  # exactly the old crash window
    assert os.path.exists(os.path.join(legacy, "_SUCCESS"))
    upsert_by_key(spark, mk([("c", 3)]), path)
    got = {r["_key"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}  # prior rows NOT dropped
    assert not os.path.exists(legacy)

    # 2) legacy BUCKET-swap crash: complete .staging holding _bucket= dirs
    bpath = str(tmp_path / "legacy_buckets")
    rows = mk([(f"k{i}", i) for i in range(30)])
    upsert_by_key_incremental(spark, rows, bpath, n_buckets=4)
    before = {r["_key"]: r["v"] for r in read_upserted(spark, bpath).collect()}
    blegacy = bpath + ".staging"
    os.makedirs(blegacy)
    buckets = [d for d in os.listdir(bpath) if d.startswith("_bucket=")]
    # stage ONE bucket (as the old merge would), delete its final copy
    shutil.move(os.path.join(bpath, buckets[0]), os.path.join(blegacy, buckets[0]))
    open(os.path.join(blegacy, "_SUCCESS"), "w").close()
    upsert_by_key_incremental(spark, mk([("k0", 999)]), bpath, n_buckets=4)
    after = {r["_key"]: r["v"] for r in read_upserted(spark, bpath).collect()}
    assert set(after) == set(before)  # the staged bucket's keys healed back
    assert after["k0"] == 999
    assert not os.path.exists(blegacy)

    # 3) incomplete legacy staging is discarded
    os.makedirs(blegacy)
    open(os.path.join(blegacy, "part-garbage.parquet"), "w").write("x")
    upsert_by_key_incremental(spark, mk([("k1", 888)]), bpath, n_buckets=4)
    assert not os.path.exists(blegacy)


def test_bucket_staging_without_marker_is_discarded(spark, tmp_path):
    """The completeness gate (r10 review): a bucket staging with
    _SUCCESS but NO _n_buckets marker is the crash window between the
    staging job commit and the driver marker write — it must be
    DISCARDED (the batch retries), never healed into a committed
    marker-less final dir."""
    import os
    import shutil

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "gate_state")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(20)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, rows, path, n_buckets=4)
    before = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}

    staging = path + ".staging-buckets"
    shutil.copytree(path, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    os.remove(os.path.join(staging, "_n_buckets"))  # the crash window

    update = spark.createDataFrame([("k0", 999)], "_key string, v long")
    upsert_by_key_incremental(spark, update, path, n_buckets=4)
    assert not os.path.exists(staging)  # discarded, not healed
    after = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert after == {**before, "k0": 999}
    assert os.path.exists(os.path.join(path, "_n_buckets"))


def _cut_bucket_swap(path, newer):
    """Leave ``path`` as a merge cut inside its bucket swap does: a
    complete ``.staging-buckets`` (``_SUCCESS`` and ``_n_buckets``)
    holding three of ``newer``'s buckets — the first already swapped
    into ``path``, the second deleted from ``path`` but not yet renamed
    in (the delete→rename window), the third not yet reached. Returns
    the staging path and the three bucket ids."""
    import os
    import shutil

    staging = path + ".staging-buckets"
    os.makedirs(staging)
    names = sorted(d for d in os.listdir(newer) if d.startswith("_bucket="))[:3]
    for d in names:
        shutil.copytree(os.path.join(newer, d), os.path.join(staging, d))
    shutil.copy(os.path.join(newer, "_n_buckets"), staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    done, cut = names[:2]
    shutil.rmtree(os.path.join(path, done))
    shutil.move(os.path.join(staging, done), os.path.join(path, done))
    shutil.rmtree(os.path.join(path, cut))
    return staging, {int(d.split("=")[1]) for d in names}


def test_read_upserted_reads_through_a_cut_bucket_swap(spark, tmp_path):
    """The production reader never misses a bucket a crash left only in
    the staging: staged buckets read from the staging, the rest from
    the final dir. The read changes nothing on disk, and the next merge
    finishes the swap to the same rows."""
    import os

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path, newer = str(tmp_path / "read_cut"), str(tmp_path / "newer")
    mk = lambda d: spark.createDataFrame(
        [(f"k{i}", i + d) for i in range(40)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, mk(0), path, n_buckets=8)
    upsert_by_key_incremental(spark, mk(100), newer, n_buckets=8)
    staging, staged = _cut_bucket_swap(path, newer)
    listing = sorted(os.listdir(staging))
    want = {
        r["_key"]: r["v"] if r["_bucket"] in staged else r["v"] - 100
        for r in spark.read.parquet(newer).collect()
    }
    assert len(want) == 40 and any(v >= 100 for v in want.values())

    got = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert got == want
    assert sorted(os.listdir(staging)) == listing  # the read changed nothing

    upsert_by_key_incremental(spark, mk(0).limit(0), path, n_buckets=8)
    assert not os.path.exists(staging)
    assert {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()} == want


def test_read_url_dedup_state_reads_through_a_cut_bucket_swap(spark, tmp_path):
    """The URL keep-best state reader reads through a cut swap too."""
    import os

    from token_etl_spark.streaming.curation import (
        _url_dedup_sink_batch,
        read_url_dedup_state,
    )

    path, newer = str(tmp_path / "url_cut"), str(tmp_path / "url_newer")
    batch = spark.createDataFrame(
        [(i, f"https://site.example.com/r/{i}") for i in range(40)],
        "doc_id long, url string",
    )
    _url_dedup_sink_batch(batch, path, n_buckets=8)
    _url_dedup_sink_batch(batch, newer, n_buckets=8)
    staging, _ = _cut_bucket_swap(path, newer)

    got = {r["doc_id"] for r in read_url_dedup_state(spark, path).collect()}
    assert got == set(range(40))
    assert os.path.exists(staging)


def test_reads_during_a_merge_leave_its_commit_alone(spark, tmp_path, monkeypatch):
    """Reads interleaved with a live merge: after its staging job
    committed (``_SUCCESS``, no ``_n_buckets`` yet) a read returns the
    last committed rows; after the marker, before the swap, it returns
    the merged rows. Neither read touches the staging, and the merge
    then commits every row."""
    import os

    import token_etl_spark.io.sinks as S

    path = str(tmp_path / "live_merge")
    staging = path + ".staging-buckets"
    mk = lambda n, d: spark.createDataFrame(
        [(f"k{i}", i + d) for i in range(n)], "_key string, v long"
    )
    S.upsert_by_key_incremental(spark, mk(40, 0), path, n_buckets=8)
    read = lambda: {r["_key"]: r["v"] for r in S.read_upserted(spark, path).collect()}
    seen = []

    def read_unchanged():
        listing = sorted(os.listdir(staging))
        seen.append(read())
        assert sorted(os.listdir(staging)) == listing

    real_marker, real_heal = S._write_bucket_marker, S._heal_bucket_swap

    def marker(spark_, p, n):
        if p == staging:
            assert os.path.exists(os.path.join(staging, "_SUCCESS"))
            read_unchanged()
        real_marker(spark_, p, n)

    def heal(spark_, p):
        if os.path.exists(os.path.join(staging, "_n_buckets")):  # the swap
            read_unchanged()
        real_heal(spark_, p)

    monkeypatch.setattr(S, "_write_bucket_marker", marker)
    monkeypatch.setattr(S, "_heal_bucket_swap", heal)
    S.upsert_by_key_incremental(spark, mk(10, 1000), path, n_buckets=8)

    merged = {f"k{i}": i + (1000 if i < 10 else 0) for i in range(40)}
    assert seen == [{f"k{i}": i for i in range(40)}, merged]
    assert read() == merged
    assert not os.path.exists(staging)


def test_read_upserted_leaves_incomplete_staging(spark, tmp_path):
    """A reader never promotes or deletes an incomplete staging (it may
    be a writer's in-flight staging) — without ``_SUCCESS``, or with
    ``_SUCCESS`` but no ``_n_buckets``: it returns the committed rows
    and the staging stays for the next merge, which discards it."""
    import os
    import shutil

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "read_partial")
    newer = str(tmp_path / "newer")
    mk = lambda v: spark.createDataFrame(
        [(f"k{i}", v) for i in range(20)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, mk(1), path, n_buckets=4)
    upsert_by_key_incremental(spark, mk(2), newer, n_buckets=4)
    staging = path + ".staging-buckets"
    shutil.copytree(newer, staging)
    os.remove(os.path.join(staging, "_n_buckets"))
    for marker in (None, "_SUCCESS"):
        if marker:
            open(os.path.join(staging, marker), "w").close()
        listing = sorted(os.listdir(staging))
        got = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
        assert got == {f"k{i}": 1 for i in range(20)}
        assert sorted(os.listdir(staging)) == listing

    upsert_by_key_incremental(spark, mk(3).limit(1), path, n_buckets=4)
    assert not os.path.exists(staging)
    got = sorted(r["v"] for r in read_upserted(spark, path).collect())
    assert got == [1] * 19 + [3]  # the staged 2s were not promoted


def test_success_only_legacy_staging_never_destroys_the_table(spark, tmp_path):
    """r10 review, reproduced data-loss hazard: a legacy '.staging' dir
    holding ONLY _SUCCESS (the old bucket heal crashed between its last
    bucket rename and the staging delete) must be DISCARDED — treating
    it as a full-swap staging would delete the live table and rename an
    empty dir over it."""
    import os

    from token_etl_spark.io.sinks import read_upserted, upsert_by_key_incremental

    path = str(tmp_path / "empty_legacy")
    rows = spark.createDataFrame(
        [(f"k{i}", i) for i in range(30)], "_key string, v long"
    )
    upsert_by_key_incremental(spark, rows, path, n_buckets=4)
    before = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}

    legacy = path + ".staging"
    os.makedirs(legacy)
    open(os.path.join(legacy, "_SUCCESS"), "w").close()

    update = spark.createDataFrame([("k0", 777)], "_key string, v long")
    upsert_by_key_incremental(spark, update, path, n_buckets=4)
    assert not os.path.exists(legacy)
    after = {r["_key"]: r["v"] for r in read_upserted(spark, path).collect()}
    assert after == {**before, "k0": 777}  # all 30 keys survive


def test_export_shards_end_to_end(spark, sf_dir, tmp_path):
    """export_shards: one file per shard (the co-partition rule), the
    on-disk manifest equals the in-memory shard_manifest, nothing is
    lost, and a re-export is byte-comparable (same manifest)."""
    import glob

    from token_etl_spark.io.sinks import export_shards
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import assign_shards, shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shard_export")
    manifest = export_shards(spark, docs, out, tokens_per_shard=1000)
    man_rows = {r["shard_id"]: r for r in manifest.collect()}

    exp = shard_manifest(assign_shards(docs, 1000))
    exp_rows = {r["shard_id"]: r for r in exp.collect()}
    assert set(man_rows) == set(exp_rows)
    for sid, r in man_rows.items():
        e = exp_rows[sid]
        assert (r["n_docs"], r["shard_tokens"], r["first_key"], r["last_key"]) == (
            e["n_docs"], e["shard_tokens"], e["first_key"], e["last_key"]
        )

    # one data file per shard directory — the repartition-first rule
    for sid in man_rows:
        files = glob.glob(f"{out}/data/shard_id={sid}/*.parquet")
        assert len(files) == 1, (sid, files)

    # lossless and re-readable
    back = spark.read.parquet(f"{out}/data")
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()

    # deterministic re-export: identical manifest
    out2 = str(tmp_path / "shard_export_2")
    manifest2 = export_shards(spark, docs, out2, tokens_per_shard=1000)
    assert manifest.exceptAll(manifest2).count() == 0
    assert manifest2.exceptAll(manifest).count() == 0


def _largest_shard(manifest_rows):
    """(shard_id, row) of the most-token shard with >= 2 docs, ties to
    the smallest id — a deterministic split target."""
    eligible = [r for r in manifest_rows if r["n_docs"] >= 2]
    return max(eligible, key=lambda r: (r["shard_tokens"], -r["shard_id"]))


def test_split_shard_preserves_routing_and_data(spark, sf_dir, tmp_path):
    """split_shard: lossless, range-disjoint, routing-stable — docs
    outside the split range route identically before and after; docs
    inside land in the half their key falls in; only the target shard's
    files are rewritten."""
    import glob

    from token_etl_spark.io.sinks import export_shards, split_shard
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import route_to_shards
    from token_etl_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "split_export")
    # localCheckpoint: the pre-split manifest is consulted again AFTER
    # the swap replaces its files — pin the rows, not the path
    before = export_shards(spark, docs, out, tokens_per_shard=1000).localCheckpoint()
    before_rows = before.collect()
    target = _largest_shard(before_rows)
    sid = target["shard_id"]
    untouched_files = {
        r["shard_id"]: sorted(glob.glob(f"{out}/data/shard_id={r['shard_id']}/*.parquet"))
        for r in before_rows
        if r["shard_id"] != sid
    }

    after = split_shard(spark, out, sid)
    after_rows = {r["shard_id"]: r for r in after.collect()}
    new_sid = max(after_rows)
    assert new_sid == max(r["shard_id"] for r in before_rows) + 1
    assert len(after_rows) == len(before_rows) + 1

    # the two halves conserve the original shard exactly and both are
    # non-empty; every other manifest row is untouched
    old_half, new_half = after_rows[sid], after_rows[new_sid]
    assert old_half["n_docs"] >= 1 and new_half["n_docs"] >= 1
    assert old_half["n_docs"] + new_half["n_docs"] == target["n_docs"]
    assert old_half["shard_tokens"] + new_half["shard_tokens"] == target["shard_tokens"]
    assert old_half["first_key"] == target["first_key"]
    assert new_half["last_key"] == target["last_key"]
    for r in before_rows:
        if r["shard_id"] != sid:
            a = after_rows[r["shard_id"]]
            assert (a["n_docs"], a["shard_tokens"], a["first_key"], a["last_key"]) == (
                r["n_docs"], r["shard_tokens"], r["first_key"], r["last_key"]
            )

    # ranges disjoint and ordered
    ordered = sorted(after_rows.values(), key=lambda r: r["first_key"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["last_key"] < b["first_key"]

    # routing round-trip: outside the split range nothing moves; inside,
    # docs land in the half whose range claims them
    tagged = docs.withColumn("n_tokens", token_count("text").cast("long"))
    r_before = {
        r["doc_id"]: (r["shard_id"], r["ord_key"])
        for r in route_to_shards(tagged, before).collect()
    }
    r_after = {r["doc_id"]: r["shard_id"] for r in route_to_shards(tagged, after).collect()}
    boundary = new_half["first_key"]
    for did, (s_b, key) in r_before.items():
        if s_b != sid:
            assert r_after[did] == s_b, did
        else:
            assert r_after[did] == (new_sid if key >= boundary else sid), did
    assert sum(1 for s in r_after.values() if s == new_sid) == new_half["n_docs"]

    # data tree: lossless, one file per half, rewritten only the target
    back = spark.read.parquet(f"{out}/data")
    assert back.count() == docs.count()
    for s in (sid, new_sid):
        files = glob.glob(f"{out}/data/shard_id={s}/*.parquet")
        assert len(files) == 1, (s, files)
    for s, files in untouched_files.items():
        assert sorted(glob.glob(f"{out}/data/shard_id={s}/*.parquet")) == files
    # the rows in each half agree with the manifest ranges
    for s, half in ((sid, old_half), (new_sid, new_half)):
        keys = [
            r["ord_key"]
            for r in spark.read.parquet(f"{out}/data/shard_id={s}").collect()
        ]
        assert len(keys) == half["n_docs"]
        assert min(keys) == half["first_key"] and max(keys) == half["last_key"]
    # no staging residue
    assert not glob.glob(f"{out}.staging-shards*")


def test_merge_shards_preserves_routing_and_data(spark, sf_dir, tmp_path):
    """merge_shards: lossless, range-disjoint, routing-stable — docs
    outside the pair route identically before and after; docs inside
    route to the merged (kept) shard; only the pair's files move, the
    absorbed shard's dir is retired."""
    import glob

    from token_etl_spark.io.sinks import export_shards, merge_shards
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import route_to_shards
    from token_etl_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "merge_export")
    before = export_shards(spark, docs, out, tokens_per_shard=1000).localCheckpoint()
    before_rows = sorted(before.collect(), key=lambda r: r["first_key"])
    assert len(before_rows) >= 3
    # pick the adjacent pair with the smallest combined token total
    a, b = min(
        zip(before_rows, before_rows[1:]),
        key=lambda p: (p[0]["shard_tokens"] + p[1]["shard_tokens"], p[0]["first_key"]),
    )
    keep_sid, drop_sid = a["shard_id"], b["shard_id"]
    untouched_files = {
        r["shard_id"]: sorted(glob.glob(f"{out}/data/shard_id={r['shard_id']}/*.parquet"))
        for r in before_rows
        if r["shard_id"] not in (keep_sid, drop_sid)
    }

    # argument order must not matter (internally sorted by first_key)
    after = merge_shards(spark, out, drop_sid, keep_sid)
    after_rows = {r["shard_id"]: r for r in after.collect()}
    assert len(after_rows) == len(before_rows) - 1
    assert drop_sid not in after_rows
    merged = after_rows[keep_sid]
    assert merged["n_docs"] == a["n_docs"] + b["n_docs"]
    assert merged["shard_tokens"] == a["shard_tokens"] + b["shard_tokens"]
    assert merged["first_key"] == a["first_key"]
    assert merged["last_key"] == b["last_key"]
    for r in before_rows:
        if r["shard_id"] not in (keep_sid, drop_sid):
            x = after_rows[r["shard_id"]]
            assert (x["n_docs"], x["shard_tokens"], x["first_key"], x["last_key"]) == (
                r["n_docs"], r["shard_tokens"], r["first_key"], r["last_key"]
            )

    # ranges disjoint and ordered
    ordered = sorted(after_rows.values(), key=lambda r: r["first_key"])
    for x, y in zip(ordered, ordered[1:]):
        assert x["last_key"] < y["first_key"]

    # routing round-trip: outside the pair nothing moves; inside, both
    # ranges' docs route to the kept shard
    tagged = docs.withColumn("n_tokens", token_count("text").cast("long"))
    r_before = {
        r["doc_id"]: r["shard_id"] for r in route_to_shards(tagged, before).collect()
    }
    r_after = {r["doc_id"]: r["shard_id"] for r in route_to_shards(tagged, after).collect()}
    for did, s_b in r_before.items():
        if s_b in (keep_sid, drop_sid):
            assert r_after[did] == keep_sid, did
        else:
            assert r_after[did] == s_b, did

    # data tree: lossless, ONE sorted file for the merged shard, the
    # absorbed dir gone, every other shard's files untouched
    back = spark.read.parquet(f"{out}/data")
    assert back.count() == docs.count()
    assert not glob.glob(f"{out}/data/shard_id={drop_sid}")
    files = glob.glob(f"{out}/data/shard_id={keep_sid}/*.parquet")
    assert len(files) == 1
    for s, fl in untouched_files.items():
        assert sorted(glob.glob(f"{out}/data/shard_id={s}/*.parquet")) == fl
    keys = [
        r["ord_key"] for r in spark.read.parquet(f"{out}/data/shard_id={keep_sid}").collect()
    ]
    assert len(keys) == merged["n_docs"]
    assert min(keys) == merged["first_key"] and max(keys) == merged["last_key"]
    assert keys == sorted(keys)
    assert not glob.glob(f"{out}.staging-shards*")


def test_split_then_merge_identity(spark, sf_dir, tmp_path):
    """Splitting a shard and merging the two halves back restores the
    exact pre-split layout: manifest rows identical, data rows
    identical (merge keeps the lower-range id, which IS the original
    id — the first half inherits it)."""
    from token_etl_spark.io.sinks import export_shards, merge_shards, split_shard
    from token_etl_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "identity_export")
    before = export_shards(spark, docs, out, tokens_per_shard=1000).localCheckpoint()
    before_rows = {r["shard_id"]: r for r in before.collect()}
    sid = _largest_shard(before_rows.values())["shard_id"]
    data_before = sorted(
        (r["doc_id"], r["ord_key"]) for r in spark.read.parquet(f"{out}/data").collect()
    )

    after_split = split_shard(spark, out, sid)
    new_sid = max(r["shard_id"] for r in after_split.collect())
    restored = {r["shard_id"]: r for r in merge_shards(spark, out, sid, new_sid).collect()}

    assert restored.keys() == before_rows.keys()
    for s, r in before_rows.items():
        x = restored[s]
        assert (x["n_docs"], x["shard_tokens"], x["first_key"], x["last_key"]) == (
            r["n_docs"], r["shard_tokens"], r["first_key"], r["last_key"]
        ), s
    data_after = sorted(
        (r["doc_id"], r["ord_key"]) for r in spark.read.parquet(f"{out}/data").collect()
    )
    assert data_after == data_before


def test_merge_shards_refusals(spark, sf_dir, tmp_path):
    """Unknown shards, self-merge, NON-ADJACENT pairs, and pairs with
    pending stream increments all refuse loudly."""
    import pytest

    from token_etl_spark.io.sinks import export_shards, merge_shards
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import _route_sink_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "merge_refuse")
    before = sorted(
        export_shards(
            spark, docs.where(F.col("doc_id") % 2 == 0), out, tokens_per_shard=500
        ).collect(),
        key=lambda r: r["first_key"],
    )
    assert len(before) >= 3
    with pytest.raises(ValueError, match="not in the manifest"):
        merge_shards(spark, out, before[0]["shard_id"], 9999)
    with pytest.raises(ValueError, match="itself"):
        merge_shards(spark, out, before[0]["shard_id"], before[0]["shard_id"])
    with pytest.raises(ValueError, match="not .*adjacent"):
        merge_shards(spark, out, before[0]["shard_id"], before[2]["shard_id"])

    # stream increments on either side of the pair → refuse, point at compact
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    _route_sink_batch(new_docs, out, "feed-0", "doc_id", None, "text", "s0")
    with pytest.raises(ValueError, match="compact_incremental_shards"):
        merge_shards(spark, out, before[0]["shard_id"], before[1]["shard_id"])


def test_merge_shard_crash_heals(spark, sf_dir, tmp_path, monkeypatch):
    """The staged merge commit survives a crash after the marker: the
    heal finishes the swap — absorbed dir retired via the tombstone,
    merged dir renamed in, manifest swapped — and replaying the apply
    is idempotent."""
    import glob

    import token_etl_spark.io.sinks as sinks
    from token_etl_spark.io.sinks import audit_shard_layout, export_shards, merge_shards
    from token_etl_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "merge_heal")
    before = sorted(
        export_shards(spark, docs, out, tokens_per_shard=1000).collect(),
        key=lambda r: r["first_key"],
    )
    keep_sid, drop_sid = before[0]["shard_id"], before[1]["shard_id"]

    real_apply = sinks._apply_shard_layout
    monkeypatch.setattr(sinks, "_apply_shard_layout", lambda *a, **k: None)
    try:
        merge_shards(spark, out, keep_sid, drop_sid)
    finally:
        monkeypatch.setattr(sinks, "_apply_shard_layout", real_apply)
    assert glob.glob(f"{out}.staging-shards/_LAYOUT_COMMITTED")
    assert glob.glob(f"{out}.staging-shards/_DROP_SHARD_ID={drop_sid}")
    # nothing committed yet
    assert glob.glob(f"{out}/data/shard_id={drop_sid}")

    # the audit reads the committed staging in place: merged layout ok,
    # nothing on disk changed
    a = {r["shard_id"]: r["status"] for r in audit_shard_layout(spark, out).collect()}
    assert drop_sid not in a
    assert all(s == "ok" for s in a.values())
    assert glob.glob(f"{out}.staging-shards/_LAYOUT_COMMITTED")
    assert glob.glob(f"{out}/data/shard_id={drop_sid}")

    # the writers' heal finishes the swap
    sinks._heal_shard_layout(spark, out)
    assert not glob.glob(f"{out}/data/shard_id={drop_sid}")
    assert not glob.glob(f"{out}.staging-shards*")
    assert spark.read.parquet(f"{out}/data").count() == docs.count()


def _greedy_merge_replay(rows, tps, num=1, den=1):
    """Pure-Python replay of the apply-one/re-plan MERGE fixpoint (the
    merge_min_pair arithmetic): repeatedly fold the qualifying adjacent
    pair with the smallest combined tokens (ties to smaller first_key)
    until no pair fits. Returns (fold sequence [(keep, drop)...], final
    rows as dicts keyed by shard_id)."""
    cur = sorted((dict(r.asDict()) if hasattr(r, "asDict") else dict(r) for r in rows),
                 key=lambda r: r["first_key"])
    seq = []
    while True:
        cands = [
            (a["shard_tokens"] + b["shard_tokens"], a["first_key"], i)
            for i, (a, b) in enumerate(zip(cur, cur[1:]))
            if (a["shard_tokens"] + b["shard_tokens"]) * den <= tps * num
        ]
        if not cands:
            return seq, {r["shard_id"]: r for r in cur}
        _, _, i = min(cands)
        a, b = cur[i], cur[i + 1]
        seq.append((a["shard_id"], b["shard_id"]))
        cur[i : i + 2] = [{
            "shard_id": a["shard_id"],
            "n_docs": a["n_docs"] + b["n_docs"],
            "shard_tokens": a["shard_tokens"] + b["shard_tokens"],
            "first_key": a["first_key"],
            "last_key": b["last_key"],
        }]


def test_apply_shard_maintenance_converges(spark, sf_dir, tmp_path):
    """VERDICT r13 item 2: the composed executor drives plan → lever →
    re-plan to convergence. Phase 1 (shrunken budget semantics: raise
    tps to 3× the export's) folds slivers by repeated merges; phase 2
    (tps below the merged sizes, split_factor=1) rebalances by repeated
    splits. After each phase: the plan is all-'ok' modulo nothing
    actionable, the audit is all-'ok', ranges stay disjoint/ordered,
    the data tree stays lossless — and phase 1's merge SEQUENCE equals
    the pure merge_min_pair arithmetic's greedy replay."""
    from token_etl_spark.io.sinks import (
        apply_shard_maintenance,
        audit_shard_layout,
        export_shards,
    )
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import plan_shard_maintenance

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "apply_conv")
    before = export_shards(spark, docs, out, tokens_per_shard=1000)
    before_rows = before.collect()
    n_docs_total = docs.count()

    # phase 1: merge slivers to convergence under a 3× budget
    man1, log1, reason1 = apply_shard_maintenance(
        spark, out, tokens_per_shard=3000, max_actions=64
    )
    assert reason1 == "converged"
    ok1 = [a for a in log1 if a["status"] == "ok"]
    assert ok1 and all(a["action"] == "merge" for a in ok1)
    assert len(ok1) < 64, "did not converge within budget"
    assert not [a for a in log1 if a["status"] == "skipped"]
    # the executor's fold sequence IS the merge_min_pair greedy replay
    exp_seq, exp_rows = _greedy_merge_replay(before_rows, 3000)
    assert [(a["shard_id"], a["next_shard_id"]) for a in ok1] == exp_seq
    got1 = {r["shard_id"]: r.asDict() for r in man1.collect()}
    assert got1 == exp_rows
    # converged: the plan has nothing left to do
    plan1 = plan_shard_maintenance(man1, 3000).collect()
    assert all(r["action"] == "ok" for r in plan1)
    a1 = audit_shard_layout(spark, out).collect()
    assert all(r["status"] == "ok" for r in a1)
    assert spark.read.parquet(f"{out}/data").count() == n_docs_total

    # phase 2: rebalance by splits under a tighter budget
    man2, log2, reason2 = apply_shard_maintenance(
        spark, out, tokens_per_shard=2000, split_factor=1, max_actions=64
    )
    assert reason2 == "converged"
    ok2 = [a for a in log2 if a["status"] == "ok"]
    assert ok2 and all(a["action"] == "split" for a in ok2)
    rows2 = man2.collect()
    plan2 = plan_shard_maintenance(man2, 2000, split_factor=1).collect()
    assert all(r["action"] == "ok" for r in plan2)
    for r in rows2:
        assert r["shard_tokens"] <= 2000 or r["n_docs"] == 1
    ordered = sorted(rows2, key=lambda r: r["first_key"])
    for x, y in zip(ordered, ordered[1:]):
        assert x["last_key"] < y["first_key"]
    a2 = audit_shard_layout(spark, out).collect()
    assert all(r["status"] == "ok" for r in a2)
    assert spark.read.parquet(f"{out}/data").count() == n_docs_total


def test_apply_shard_maintenance_budget_cap_and_guard(spark, sf_dir, tmp_path):
    """The max_actions budget is a hard cap (exactly that many levers
    pull, the loop stops mid-flight), and an oscillation-capable policy
    (merge budget above the split threshold) refuses up front."""
    import pytest

    from token_etl_spark.io.sinks import apply_shard_maintenance, export_shards
    from token_etl_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "apply_cap")
    before = export_shards(spark, docs, out, tokens_per_shard=1000)
    n_before = before.count()

    man, log, reason = apply_shard_maintenance(
        spark, out, tokens_per_shard=3000, max_actions=2
    )
    assert [a["status"] for a in log] == ["ok", "ok"]
    assert man.count() == n_before - 2  # two merges landed, then stop
    assert reason == "budget_exhausted"  # actionable work remained

    with pytest.raises(ValueError, match="oscillate"):
        apply_shard_maintenance(
            spark, out, tokens_per_shard=3000,
            split_factor=1, merge_budget_num=3, merge_budget_den=1,
        )


def test_apply_shard_maintenance_skips_refusals(spark, sf_dir, tmp_path):
    """A lever that refuses (pending stream increments) is recorded as
    'skipped' ONCE and the loop moves on: other shards still converge,
    the refusing shard's manifest row is untouched, and the loop
    terminates instead of wedging on the refusal."""
    from token_etl_spark.io.sinks import apply_shard_maintenance, export_shards
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import _route_sink_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "apply_skip")
    before = sorted(
        export_shards(
            spark, docs.where(F.col("doc_id") % 2 == 0), out, tokens_per_shard=1000
        ).collect(),
        key=lambda r: r["first_key"],
    )
    assert len(before) >= 4
    # route an increment into the tree: the touched shards now refuse
    inc_docs = docs.where(F.col("doc_id") % 2 == 1).limit(5)
    _route_sink_batch(inc_docs, out, "feed-0", "doc_id", None, "text", "s0")
    touched = {
        r["shard_id"]
        for r in spark.read.parquet(f"{out}/incoming")
        .select(F.col("shard_id").cast("long"))
        .distinct()
        .collect()
    }
    assert touched

    man, log, reason = apply_shard_maintenance(
        spark, out, tokens_per_shard=3000, max_actions=64
    )
    # refused recommendations remain -> the loop must NOT report
    # convergence (the ADVICE r14 false-positive)
    assert reason == "stalled"
    skipped = [a for a in log if a["status"] == "skipped"]
    ok = [a for a in log if a["status"] == "ok"]
    assert skipped and all("compact" in a["reason"] for a in skipped)
    # every skip touches an increment-bearing shard; each unique action
    # is skipped at most once (no retry spam)
    for a in skipped:
        assert a["shard_id"] in touched or a["next_shard_id"] in touched
    keys = [(a["action"], a["shard_id"], a["next_shard_id"]) for a in skipped]
    assert len(keys) == len(set(keys))
    # increment-bearing shards' manifest rows are untouched
    after = {r["shard_id"]: r for r in man.collect()}
    for r in before:
        if r["shard_id"] in touched:
            x = after[r["shard_id"]]
            assert (x["n_docs"], x["shard_tokens"]) == (r["n_docs"], r["shard_tokens"])
    # and merges still landed elsewhere when any were possible
    if ok:
        for a in ok:
            assert a["shard_id"] not in touched
            assert a["next_shard_id"] not in touched


def test_split_shard_refusals(spark, tmp_path):
    """Unknown shards and 1-document shards refuse loudly (no document
    is ever cut)."""
    import pytest

    from token_etl_spark.io.sinks import split_shard

    out = str(tmp_path / "tiny_export")
    spark.createDataFrame(
        [(1, "only doc", "aa" * 16, 5)],
        "doc_id long, text string, ord_key string, n_tokens long",
    ).write.parquet(f"{out}/data/shard_id=0")
    spark.createDataFrame(
        [(0, 1, 5, "aa" * 16, "aa" * 16)],
        "shard_id long, n_docs long, shard_tokens long, first_key string, last_key string",
    ).write.parquet(f"{out}/manifest")
    with pytest.raises(ValueError, match="not in the manifest"):
        split_shard(spark, out, 99)
    with pytest.raises(ValueError, match="single document"):
        split_shard(spark, out, 0)


def test_split_shard_crash_heals(spark, sf_dir, tmp_path, monkeypatch):
    """The staged split commit survives a crash at both crash points:
    before the marker the staging is discarded (retry recomputes),
    after the marker the heal finishes the commit — and the combined
    reader serves the committed layout before the heal runs."""
    import glob

    import token_etl_spark.io.sinks as sinks
    from token_etl_spark.io.sinks import export_shards, split_shard
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import read_incremental_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "heal_split")
    before = export_shards(spark, docs, out, tokens_per_shard=1000)
    before_rows = before.collect()
    sid = _largest_shard(before_rows)["shard_id"]

    # crash AFTER the marker, before any rename: _apply becomes a no-op
    real_apply = sinks._apply_shard_layout
    monkeypatch.setattr(sinks, "_apply_shard_layout", lambda *a, **k: None)
    try:
        split_shard(spark, out, sid)
    finally:
        monkeypatch.setattr(sinks, "_apply_shard_layout", real_apply)
    # nothing committed yet; staging holds the marker
    assert len(spark.read.parquet(f"{out}/manifest").collect()) == len(before_rows)
    assert glob.glob(f"{out}.staging-shards/_LAYOUT_COMMITTED")

    # the combined reader serves the post-split layout; the heal commits it
    combined = read_incremental_shards(spark, out)
    assert combined.count() == docs.count()
    assert combined.select("shard_id").distinct().count() == len(before_rows) + 1
    sinks._heal_shard_layout(spark, out)
    healed = spark.read.parquet(f"{out}/manifest")
    assert healed.count() == len(before_rows) + 1
    assert not glob.glob(f"{out}.staging-shards*")

    # a marker-LESS staging (crash mid-write) is discarded, layout intact
    import os

    os.makedirs(f"{out}.staging-shards/shard_id=12345", exist_ok=True)
    with open(f"{out}.staging-shards/shard_id=12345/junk", "w") as f:
        f.write("partial")
    sinks._heal_shard_layout(spark, out)
    assert not glob.glob(f"{out}.staging-shards*")
    assert not glob.glob(f"{out}/data/shard_id=12345")
    assert spark.read.parquet(f"{out}/manifest").count() == len(before_rows) + 1


def test_compact_then_split_incremental_layout(spark, sf_dir, tmp_path):
    """compact_incremental_shards folds stream increments into the base
    tree (one file per touched shard, manifest recomputed, incoming/
    dropped, untouched shards' bytes unmoved); split_shard refuses
    while increments exist for the target shard and succeeds after
    compaction."""
    import glob

    import pytest

    from token_etl_spark.io.sinks import (
        compact_incremental_shards,
        export_shards,
        split_shard,
    )
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import (
        _route_sink_batch,
        read_incremental_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "compact_export")
    export_shards(spark, base_docs, out, tokens_per_shard=500)

    _route_sink_batch(new_docs, out, "feed-0", "doc_id", None, "text", "s0")
    combined_before = {
        (r["doc_id"], r["shard_id"])
        for r in read_incremental_shards(spark, out).collect()
    }
    inc_sids = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(f"{out}/incoming/batch_id=*/shard_id=*")
    )
    # a shard with increments refuses to split until compaction
    manifest_rows = spark.read.parquet(f"{out}/manifest").collect()
    routed_target = next(
        r["shard_id"] for r in manifest_rows
        if r["shard_id"] in inc_sids and r["n_docs"] >= 2
    )
    with pytest.raises(ValueError, match="compact_incremental_shards"):
        split_shard(spark, out, routed_target)

    untouched = [
        r["shard_id"] for r in manifest_rows if r["shard_id"] not in inc_sids
    ]
    untouched_files = {
        s: sorted(glob.glob(f"{out}/data/shard_id={s}/*.parquet")) for s in untouched
    }
    after = compact_incremental_shards(spark, out)
    # incoming gone, combined view identical, served from data/ alone
    assert not glob.glob(f"{out}/incoming")
    combined_after = {
        (r["doc_id"], r["shard_id"])
        for r in read_incremental_shards(spark, out).collect()
    }
    assert combined_after == combined_before
    # manifest matches the folded data exactly
    from token_etl_spark.operators.curation import shard_manifest

    data = spark.read.parquet(f"{out}/data").withColumn(
        "shard_id", F.col("shard_id").cast("long")
    )
    exp = {r["shard_id"]: r for r in shard_manifest(data).collect()}
    got = {r["shard_id"]: r for r in after.collect()}
    assert set(got) == set(exp)
    for s in got:
        assert (got[s]["n_docs"], got[s]["shard_tokens"], got[s]["first_key"], got[s]["last_key"]) == (
            exp[s]["n_docs"], exp[s]["shard_tokens"], exp[s]["first_key"], exp[s]["last_key"]
        )
    # touched shards: one file; untouched shards: bytes unmoved
    for s in inc_sids:
        assert len(glob.glob(f"{out}/data/shard_id={s}/*.parquet")) == 1
    for s, files in untouched_files.items():
        assert sorted(glob.glob(f"{out}/data/shard_id={s}/*.parquet")) == files
    # idempotent no-op when nothing is pending
    again = compact_incremental_shards(spark, out)
    assert again.exceptAll(after).count() == 0
    after_count = after.count()

    # and the formerly-refused shard now splits cleanly
    post = split_shard(spark, out, routed_target)
    assert post.count() == after_count + 1
    assert spark.read.parquet(f"{out}/data").count() == docs.count()

    # the router picks the new ranges up on its next batch — the
    # docstring promise: a post-split increment routed into the old
    # shard's range lands in whichever HALF claims its key
    from token_etl_spark.operators.curation import route_to_shards
    from token_etl_spark.operators.text import token_count

    next_docs = docs.withColumn("doc_id", F.col("doc_id") + 500_000)
    _route_sink_batch(next_docs, out, "feed-1", "doc_id", None, "text", "s0")
    post_rows = {r["shard_id"]: r for r in post.collect()}
    new_sid = max(post_rows)
    exp = {
        (r["doc_id"], r["shard_id"])
        for r in route_to_shards(
            next_docs.withColumn("n_tokens", token_count("text").cast("long")),
            post,
        ).collect()
    }
    got = {
        (r["doc_id"], r["shard_id"])
        for r in read_incremental_shards(spark, out)
        .where(F.col("doc_id") >= 500_000)
        .collect()
    }
    assert got == exp and len(got) == next_docs.count()
    # at least one post-split document actually landed in the NEW half
    # (md5 keys are uniform, both halves' ranges are claimed)
    assert any(s == new_sid for _, s in got)
    assert any(s == routed_target for _, s in got)


def test_audit_shard_layout_states(spark, sf_dir, tmp_path):
    """The layout-integrity observable beside the split/compact levers:
    clean export → all 'ok'; stream increments → 'drift' on touched
    shards flagged pending_increments; compaction restores 'ok'; a
    deleted shard dir reports 'manifest_only'."""
    import shutil

    from token_etl_spark.io.sinks import (
        audit_shard_layout,
        compact_incremental_shards,
        export_shards,
    )
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import _route_sink_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_docs = docs.where(F.col("doc_id") % 2 == 0)
    out = str(tmp_path / "audit_export")
    export_shards(spark, base_docs, out, tokens_per_shard=500)

    a0 = audit_shard_layout(spark, out).collect()
    assert a0 and all(r["status"] == "ok" for r in a0)
    assert not any(r["pending_increments"] for r in a0)

    # stream increments: touched shards drift, flagged as pending
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    _route_sink_batch(new_docs, out, "feed-0", "doc_id", None, "text", "s0")
    a1 = {r["shard_id"]: r for r in audit_shard_layout(spark, out).collect()}
    drifted = [r for r in a1.values() if r["status"] == "drift"]
    assert drifted and all(r["pending_increments"] for r in drifted)
    assert all(
        r["status"] == "ok" for r in a1.values() if not r["pending_increments"]
    )
    # doc accounting on a drifted shard: data side counts base+increment
    d = drifted[0]
    assert d["d_n_docs"] > d["m_n_docs"]

    # compaction restores a clean audit
    compact_incremental_shards(spark, out)
    a2 = audit_shard_layout(spark, out).collect()
    assert all(r["status"] == "ok" for r in a2)
    assert not any(r["pending_increments"] for r in a2)

    # a lost shard dir is loud: manifest_only
    victim = a2[0]["shard_id"]
    shutil.rmtree(f"{out}/data/shard_id={victim}")
    a3 = {r["shard_id"]: r["status"] for r in audit_shard_layout(spark, out).collect()}
    assert a3[victim] == "manifest_only"


def test_shard_readers_read_committed_staging_in_place(spark, sf_dir, tmp_path, monkeypatch):
    """Readers of a shard layout change nothing on disk: a split cut
    after its commit marker — before any rename, and again after one
    staged shard was renamed in — is served and audited as committed by
    ``read_incremental_shards`` and ``audit_shard_layout``, while the
    staging and ``data/`` stay as the crash left them. Two readers that
    both finished the commit could rename one staged shard twice, and
    the second deleted the first's rename with its rows. A marker-LESS
    staging (in-flight writer) is ignored and left untouched."""
    import glob
    import os
    import shutil

    import token_etl_spark.io.sinks as sinks
    from token_etl_spark.io.sinks import audit_shard_layout, export_shards, split_shard
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import read_incremental_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    out = str(tmp_path / "audit_in_place")
    before = export_shards(spark, docs, out, tokens_per_shard=1000)
    n_before = before.count()
    sid = _largest_shard(before.collect())["shard_id"]

    # crash a split AFTER the marker: staging is a committed layout
    real_apply = sinks._apply_shard_layout
    monkeypatch.setattr(sinks, "_apply_shard_layout", lambda *a, **k: None)
    try:
        split_shard(spark, out, sid)
    finally:
        monkeypatch.setattr(sinks, "_apply_shard_layout", real_apply)

    def tree() -> list[str]:
        return sorted(
            os.path.relpath(os.path.join(d, f), tmp_path)
            for d, _, files in os.walk(tmp_path)
            for f in files
        )

    def check_reads() -> None:
        on_disk = tree()
        for _ in range(2):
            a = audit_shard_layout(spark, out).collect()
            assert len(a) == n_before + 1
            assert all(r["status"] == "ok" for r in a)
            combined = read_incremental_shards(spark, out)
            assert combined.count() == n_docs
            assert combined.select("doc_id").distinct().count() == n_docs
        assert tree() == on_disk

    check_reads()
    # a commit cut after its first rename: one staged shard is in data/
    staged = sorted(glob.glob(f"{out}.staging-shards/shard_id=*"))
    name = os.path.basename(staged[0])
    shutil.rmtree(f"{out}/data/{name}", ignore_errors=True)
    os.rename(staged[0], f"{out}/data/{name}")
    check_reads()

    # the writers' heal finishes the commit
    sinks._heal_shard_layout(spark, out)
    assert not glob.glob(f"{out}.staging-shards*")
    assert spark.read.parquet(f"{out}/manifest").count() == n_before + 1

    # marker-less staging (writer still mid-stage) survives the audit
    os.makedirs(f"{out}.staging-shards/shard_id=777", exist_ok=True)
    with open(f"{out}.staging-shards/shard_id=777/partial", "w") as f:
        f.write("x")
    a2 = audit_shard_layout(spark, out).collect()
    assert all(r["status"] == "ok" for r in a2)
    assert glob.glob(f"{out}.staging-shards/shard_id=777/partial")
