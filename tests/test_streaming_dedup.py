from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from token_etl_spark.io.sources import load_table
from token_etl_spark.streaming.dedup import (
    read_file_stream,
    streaming_dedup_within_watermark,
)
from token_etl_spark.streaming.hourly import run_to_memory


def _staged_with_dups(spark, sf_dir, tmp_path, name):
    """events ∪ events (every row duplicated) staged for a file stream."""
    events = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / name)
    events.union(events).write.parquet(staged)
    return events, staged


def test_streaming_exact_dedup_drops_replayed_rows(spark, sf_dir, tmp_path):
    events, staged = _staged_with_dups(spark, sf_dir, tmp_path, "sd_exact")
    stream = read_file_stream(spark, staged, events.schema)
    deduped = stream.dropDuplicates(["event_id"])
    run_to_memory(deduped, "sd_exact_out", output_mode="append")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM sd_exact_out").collect()[0]
    n_distinct = events.select("event_id").distinct().count()
    assert got.n == got.d == n_distinct


def test_streaming_watermark_dedup_drops_replayed_rows(spark, sf_dir, tmp_path):
    events, staged = _staged_with_dups(spark, sf_dir, tmp_path, "sd_wm")
    stream = read_file_stream(spark, staged, events.schema)
    deduped = streaming_dedup_within_watermark(
        stream, ["event_id"], ts_col="ts", watermark="10 seconds"
    )
    run_to_memory(deduped, "sd_wm_out", output_mode="append")
    # Replays arrive in the same micro-batch (well inside the watermark),
    # so every duplicate is suppressed.
    got = spark.sql("SELECT count(*) AS n FROM sd_wm_out").collect()[0]
    assert got.n == events.select("event_id").distinct().count()


def test_streaming_dedup_keeps_payload_columns(spark, sf_dir, tmp_path):
    events, staged = _staged_with_dups(spark, sf_dir, tmp_path, "sd_cols")
    stream = read_file_stream(spark, staged, events.schema)
    deduped = stream.dropDuplicates(["event_id"])
    run_to_memory(deduped, "sd_cols_out", output_mode="append")
    batch = spark.sql("SELECT * FROM sd_cols_out")
    assert set(batch.columns) == set(events.columns)
    # spot-check one payload value survives intact
    eid = events.select("event_id").limit(1).collect()[0][0]
    exp = events.filter(F.col("event_id") == eid).select("value").collect()[0][0]
    got = batch.filter(F.col("event_id") == eid).select("value").collect()[0][0]
    assert got == exp


def test_streaming_neardup_matches_sequential_batch(spark, sf_dir, tmp_path):
    """run_streaming_neardup over micro-batches (one file per trigger,
    file order pinned via mtimes) admits exactly the documents a
    sequential batch replay of minhash_match_index admits, appends the
    same verified match pairs, and leaves an index the batch pipeline
    can read directly."""
    import os
    import time as _time

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.dedup import (
        minhash_index_frame,
        minhash_match_index,
    )
    from token_etl_spark.streaming.dedup import run_streaming_neardup

    docs = load_table(spark, sf_dir, "documents").limit(120).localCheckpoint()
    gens = [docs.where(F.col("doc_id") % 3 == g) for g in range(3)]
    # guarantee cross-generation near-dups: generation 1 re-crawls ten
    # generation-0 documents under fresh ids (exact text => jaccard 1.0)
    recrawl = (
        gens[0]
        .orderBy("doc_id")
        .limit(10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    gens[1] = gens[1].unionByName(recrawl)

    staged = tmp_path / "neardup_stream"
    staged.mkdir()
    for g, frame in enumerate(gens):
        sub = tmp_path / f"gen{g}"
        frame.coalesce(1).write.parquet(str(sub))
        part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
        dst = staged / f"gen{g}.parquet"
        part.rename(dst)
        # FileStreamSource orders by modification time: pin generation order
        os.utime(dst, (1_700_000_000 + g, 1_700_000_000 + g))

    index_path = str(tmp_path / "neardup_index")
    matches_path = str(tmp_path / "neardup_matches")
    checkpoint_path = str(tmp_path / "neardup_ckpt")

    def _run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(staged))
        )
        run_streaming_neardup(
            stream,
            index_path,
            threshold=0.5,
            matches_path=matches_path,
            checkpoint_path=checkpoint_path,
        )

    _run()

    # sequential batch replay with the same operators, same order
    exp_index_ids: set = set()
    exp_matches: set = set()
    index = None
    for frame in gens:
        new_idx = minhash_index_frame(frame)
        if index is not None:
            m = minhash_match_index(frame, index, threshold=0.5)
            rows = m.collect()
            exp_matches |= {
                (r["id_new"], r["id_ref"], round(r["jaccard"], 6)) for r in rows
            }
            dup = {r["id_new"] for r in rows}
        else:
            dup = set()
        admitted = new_idx.where(~F.col("id").isin(dup))
        exp_index_ids |= {r["id"] for r in admitted.select("id").collect()}
        index = (
            admitted
            if index is None
            else index.unionByName(admitted)
        ).localCheckpoint()

    from token_etl_spark.streaming.dedup import (
        read_neardup_index,
        read_neardup_matches,
    )

    def _observed():
        ids = {
            r["id"]
            for r in read_neardup_index(spark, index_path).select("id").collect()
        }
        pairs = {
            (r["id_new"], r["id_ref"], round(r["jaccard"], 6))
            for r in read_neardup_matches(spark, matches_path).collect()
        }
        return ids, pairs

    got_ids, got_matches = _observed()
    assert got_ids == exp_index_ids and got_ids
    assert exp_matches  # the recrawl fixture guarantees match pairs
    assert got_matches == exp_matches
    # the ten recrawled copies were matched to the index, not admitted
    assert not any(i >= 1_000_000 for i in got_ids)
    # the persisted index is directly usable by the batch matcher: a doc
    # re-presented under a FRESH id matches its index copy...
    represented = docs.where(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5_000_000
    )
    post = minhash_match_index(represented, read_neardup_index(spark, index_path))
    assert post.count() > 0
    # ...and a SAME-id re-delivery (at-least-once source) matches its own
    # index copy at jaccard 1.0 by default — so the sink would NOT
    # re-admit it (no duplicate index rows per id)
    same_ids = minhash_match_index(
        docs.where(F.col("doc_id") % 3 == 0), read_neardup_index(spark, index_path)
    )
    self_pairs = same_ids.filter(F.col("id_new") == F.col("id_ref"))
    assert self_pairs.count() > 0
    assert self_pairs.filter(F.col("jaccard") < 1.0).count() == 0

    # IDEMPOTENCY: re-running over the same source with the same
    # checkpoint replays no batch (offsets are committed), and the
    # batch_id-keyed overwrite writes mean even a replayed batch would
    # rewrite its own partition, not append duplicates — state unchanged.
    _run()
    assert _observed() == (got_ids, got_matches)


def test_neardup_sink_retry_after_partial_write_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch RETRY semantics (ADVICE r7, medium): a batch that
    crashed AFTER writing its state partition but BEFORE the checkpoint
    commit is re-executed with the same key. The sink must exclude its
    own partial write from the state read — otherwise every batch doc
    self-matches its own index copy (jaccard 1.0), bogus pairs land in
    the matches partition, and the index partition is overwritten EMPTY
    (docs permanently lost)."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.dedup import (
        _neardup_sink_batch,
        read_neardup_index,
        read_neardup_matches,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60).localCheckpoint()
    index_path = str(tmp_path / "retry_index")
    matches_path = str(tmp_path / "retry_matches")

    # batch 0 commits normally
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    _neardup_sink_batch(b0, "lineage-0", index_path, matches_path=matches_path)
    # batch 1 writes its partitions, "crashes" before checkpoint commit,
    # then is retried with the SAME key
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    _neardup_sink_batch(b1, "lineage-1", index_path, matches_path=matches_path)

    def _state():
        ids = {
            r["id"]
            for r in read_neardup_index(spark, index_path).select("id").collect()
        }
        m = read_neardup_matches(spark, matches_path)
        pairs = (
            set()
            if m is None
            else {(r["id_new"], r["id_ref"]) for r in m.collect()}
        )
        return ids, pairs

    first = _state()
    assert first[0], "batch-1 docs must be admitted on first execution"
    # no self-pairs ever
    assert all(a != b for a, b in first[1])

    # the retry: same batch, same key, state dir already contains the
    # batch's own partition
    _neardup_sink_batch(b1, "lineage-1", index_path, matches_path=matches_path)
    assert _state() == first


def test_novelty_sink_retry_after_partial_write_is_idempotent(spark, sf_dir, tmp_path):
    """Same retry window for run_streaming_novelty: a retried batch must
    not see its own grams as already-indexed (novelty=0 for every doc)
    or empty its own gram partition."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import (
        _novelty_sink_batch,
        read_novelty_scores,
    )
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    gram_path = str(tmp_path / "retry_grams")
    scores_path = str(tmp_path / "retry_scores")

    b0 = docs.where(F.col("doc_id") < 30)
    _novelty_sink_batch(b0, "lin-0", gram_path, scores_path=scores_path)
    b1 = docs.where(F.col("doc_id") >= 30)
    _novelty_sink_batch(b1, "lin-1", gram_path, scores_path=scores_path)

    def _state():
        scores = {
            r["doc_id"]: (r["n_grams"], r["n_novel"], round(r["novelty"], 6))
            for r in read_novelty_scores(spark, scores_path).collect()
        }
        grams = _read_partitioned_state(spark, gram_path).count()
        return scores, grams

    first = _state()
    # batch 1 has genuinely novel grams: not every doc may score 0
    assert any(v[1] > 0 for k, v in first[0].items() if k >= 30)

    _novelty_sink_batch(b1, "lin-1", gram_path, scores_path=scores_path)
    assert _state() == first


def test_streaming_runners_require_checkpoint_path(spark, sf_dir, tmp_path):
    """ADVICE r7 (low): omitting checkpoint_path must fail fast instead
    of silently re-opening the continuation-stream clobber."""
    import pytest

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.curation import run_streaming_novelty
    from token_etl_spark.streaming.dedup import run_streaming_neardup

    docs = load_table(spark, sf_dir, "documents").limit(5)
    staged = tmp_path / "ckpt_req"
    docs.coalesce(1).write.parquet(str(staged))
    stream = spark.readStream.schema(docs.schema).parquet(str(staged))
    with pytest.raises(ValueError, match="checkpoint_path"):
        run_streaming_neardup(stream, str(tmp_path / "i"))
    with pytest.raises(ValueError, match="checkpoint_path"):
        run_streaming_novelty(stream, str(tmp_path / "g"))


@pytest.mark.parametrize("checkpoint_path", [None, ""])
@pytest.mark.parametrize(
    "module, runner, n_paths",
    [
        ("curation", "run_streaming_novelty", 1),
        ("curation", "run_streaming_snapshot_diff", 2),
        ("curation", "run_streaming_url_dedup", 1),
        ("curation", "run_streaming_shard_router", 1),
        ("curation", "run_streaming_ingest", 2),
        ("curation", "run_streaming_domain_gate", 2),
        ("dedup", "run_streaming_neardup", 1),
        ("dedup", "run_streaming_embedding_neardup", 1),
    ],
)
def test_checkpointed_runner_rejects_missing_checkpoint(
    module, runner, n_paths, checkpoint_path
):
    """Every runner whose state is keyed by checkpoint lineage refuses a
    missing or empty ``checkpoint_path`` before it touches the stream
    (``stream=None`` here: no Spark job starts)."""
    import importlib

    run = getattr(importlib.import_module(f"token_etl_spark.streaming.{module}"), runner)
    paths = [f"unused_{i}" for i in range(n_paths)]
    with pytest.raises(ValueError, match="checkpoint_path"):
        run(None, *paths, checkpoint_path=checkpoint_path)


def test_compact_state_partitions_preserves_state_and_continuation(
    spark, sf_dir, tmp_path
):
    """VERDICT r7 item 7: compacting the per-batch state partitions into
    one consolidated partition changes the layout only — readers see
    identical state, and a CONTINUATION stream over the compacted index
    still reproduces the sequential batch replay."""
    import os

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.dedup import minhash_index_frame, minhash_match_index
    from token_etl_spark.streaming.dedup import (
        compact_state_partitions,
        read_neardup_index,
        run_streaming_neardup,
    )

    docs = load_table(spark, sf_dir, "documents").limit(90).localCheckpoint()
    gens = [docs.where(F.col("doc_id") % 3 == g) for g in range(3)]
    # gen2 re-crawls ten gen0 docs under fresh ids -> guaranteed matches
    recrawl = (
        gens[0].orderBy("doc_id").limit(10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    gens[2] = gens[2].unionByName(recrawl)

    staged = tmp_path / "cmp_stream"
    staged.mkdir()
    for g, frame in enumerate(gens[:2]):
        sub = tmp_path / f"cmpgen{g}"
        frame.coalesce(1).write.parquet(str(sub))
        part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
        dst = staged / f"gen{g}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + g, 1_700_000_000 + g))

    index_path = str(tmp_path / "cmp_index")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staged))
    )
    run_streaming_neardup(
        stream, index_path, threshold=0.5,
        checkpoint_path=str(tmp_path / "cmp_ckpt"),
    )

    before = {
        (r["id"], tuple(r["sig"]))
        for r in read_neardup_index(spark, index_path).select("id", "sig").collect()
    }
    absorbed = compact_state_partitions(spark, index_path)
    assert absorbed == 2  # two batch partitions merged
    after_df = read_neardup_index(spark, index_path)
    after = {
        (r["id"], tuple(r["sig"]))
        for r in after_df.select("id", "sig").collect()
    }
    assert after == before
    # layout really is one partition now; a second compaction is a no-op
    parts = [p for p in os.listdir(index_path) if p.startswith("batch_id=")]
    assert parts == ["batch_id=compacted-0"]
    assert compact_state_partitions(spark, index_path) == 0

    # continuation stream over the COMPACTED index: gen2's recrawls must
    # match the indexed gen0 docs exactly as a batch replay would
    staged2 = tmp_path / "cmp_stream2"
    staged2.mkdir()
    sub = tmp_path / "cmpgen2"
    gens[2].coalesce(1).write.parquet(str(sub))
    part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
    part.rename(staged2 / "gen2.parquet")
    stream2 = spark.readStream.schema(docs.schema).parquet(str(staged2))
    matches_path = str(tmp_path / "cmp_matches")
    run_streaming_neardup(
        stream2, index_path, threshold=0.5, matches_path=matches_path,
        checkpoint_path=str(tmp_path / "cmp_ckpt2"),
    )
    from token_etl_spark.streaming.dedup import read_neardup_matches

    got = {
        (r["id_new"], r["id_ref"], round(r["jaccard"], 6))
        for r in read_neardup_matches(spark, matches_path).collect()
    }
    # sequential batch replay: only ADMITTED (novel) docs enter the index
    index = None
    for frame in gens[:2]:
        new_idx = minhash_index_frame(frame)
        if index is not None:
            dup = {
                r["id_new"]
                for r in minhash_match_index(frame, index, threshold=0.5).collect()
            }
        else:
            dup = set()
        admitted = new_idx.where(~F.col("id").isin(dup))
        index = (
            admitted if index is None else index.unionByName(admitted)
        ).localCheckpoint()
    want = {
        (r["id_new"], r["id_ref"], round(r["jaccard"], 6))
        for r in minhash_match_index(gens[2], index, threshold=0.5).collect()
    }
    assert got == want and got  # recrawl fixture guarantees matches


def test_compact_state_partitions_heals_interrupted_swap(spark, sf_dir, tmp_path):
    """Crash window: a failure between delete(final) and rename(staging)
    leaves only a complete, marked .staging-full dir. The next compaction
    call must recover it (via io.sinks._heal_full_swap) instead of
    treating the state as empty."""
    import os

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.dedup import (
        _neardup_sink_batch,
        compact_state_partitions,
        read_neardup_index,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40).localCheckpoint()
    index_path = str(tmp_path / "heal_index")
    _neardup_sink_batch(docs.where(F.col("doc_id") % 2 == 0), "l-0", index_path)
    _neardup_sink_batch(docs.where(F.col("doc_id") % 2 == 1), "l-1", index_path)
    before = {
        r["id"] for r in read_neardup_index(spark, index_path).select("id").collect()
    }

    # simulate the crash: a completed staging dir, final deleted
    staging = index_path + ".staging-full"
    spark.read.parquet(index_path).drop("batch_id").write.parquet(
        f"{staging}/batch_id=compacted-0"
    )
    open(os.path.join(staging, "_SUCCESS"), "w").close()  # the root mark
    import shutil

    shutil.rmtree(index_path)
    assert not os.path.exists(index_path) and os.path.exists(staging)

    # recovery happens on the next compaction entry; state intact,
    # already consolidated -> no-op return
    assert compact_state_partitions(spark, index_path) == 0
    after = {
        r["id"] for r in read_neardup_index(spark, index_path).select("id").collect()
    }
    assert after == before


def test_compact_state_partitions_clears_stale_staging(spark, sf_dir, tmp_path):
    """A compaction that crashed AFTER its staging write but BEFORE the
    final delete leaves both dirs. The next compaction must clear the
    stale staging before writing — a differently-labeled stale partition
    inside it would otherwise survive the swap and duplicate rows."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.dedup import (
        _neardup_sink_batch,
        compact_state_partitions,
        read_neardup_index,
    )

    docs = load_table(spark, sf_dir, "documents").limit(30).localCheckpoint()
    index_path = str(tmp_path / "stale_index")
    _neardup_sink_batch(docs.where(F.col("doc_id") % 2 == 0), "s-0", index_path)
    _neardup_sink_batch(docs.where(F.col("doc_id") % 2 == 1), "s-1", index_path)
    before = {
        r["id"] for r in read_neardup_index(spark, index_path).select("id").collect()
    }
    # stale staging from an interrupted compaction under a DIFFERENT label
    spark.read.parquet(index_path).drop("batch_id").write.parquet(
        index_path + ".staging-full/batch_id=oldlabel-0"
    )
    assert compact_state_partitions(spark, index_path) == 2
    idx = read_neardup_index(spark, index_path)
    assert {r["id"] for r in idx.select("id").collect()} == before
    assert idx.count() == len(before)  # no duplicated rows from the stale dir


def test_interrupted_compaction_is_healed_before_the_next_batch(spark, tmp_path):
    """A compaction cut between the final-dir delete and the rename
    leaves the whole index in a marked staging. The next sink batch must
    heal it before reading: reading around it re-admits a re-delivered
    doc, and the compacted index would then be orphaned for good."""
    import os
    import shutil

    from token_etl_spark.streaming.dedup import (
        _neardup_sink_batch,
        compact_state_partitions,
        read_neardup_index,
    )

    def text(i):
        return " ".join(f"tok{i}x{j}" for j in range(24))

    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(10)], "doc_id long, text string"
    )
    index_path = str(tmp_path / "orphan_index")
    _neardup_sink_batch(docs.where("doc_id < 5"), "o-0", index_path)
    _neardup_sink_batch(docs.where("doc_id >= 5"), "o-1", index_path)
    assert compact_state_partitions(spark, index_path) == 2

    # the crash window: final deleted, the marked staging holds the index
    staging = index_path + ".staging-full"
    shutil.move(index_path, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()

    # doc 0 re-delivered under its own id, doc 42 novel
    batch = spark.createDataFrame(
        [(0, text(0)), (42, text(42))], "doc_id long, text string"
    )
    _neardup_sink_batch(batch, "o-2", index_path)
    compact_state_partitions(spark, index_path)

    ids = sorted(r["id"] for r in read_neardup_index(spark, index_path).collect())
    assert ids == list(range(10)) + [42]  # doc 0 not re-admitted
    assert not os.path.exists(staging)


def test_read_partitioned_state_excludes_key_against_legacy_int_partitions(
    spark, tmp_path
):
    """Review r8: a legacy state dir with bare-numeric partition names is
    int-inferred; the exclusion filter must compare as strings or every
    row silently drops (int != 'hex-N' coerces to a NULL comparison)."""
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    base = str(tmp_path / "legacy_state")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df.where("id = 1").write.parquet(f"{base}/batch_id=0")
    df.where("id = 2").write.parquet(f"{base}/batch_id=1")
    out = _read_partitioned_state(spark, base, exclude_key="deadbeef-0")
    assert {r["id"] for r in out.collect()} == {1, 2}  # nothing lost
    out2 = _read_partitioned_state(spark, base, exclude_key="0")
    assert {r["id"] for r in out2.collect()} == {2}


def test_neardup_threshold_curve_over_stream_state(spark, tmp_path):
    """The live curve over the stream's accumulated matches equals the
    batch curve over the same pairs; None before any state exists."""
    from token_etl_spark.operators.dedup import dedup_threshold_curve
    from token_etl_spark.streaming.dedup import (
        _neardup_sink_batch,
        _lineage_keys,
        neardup_threshold_curve,
        read_neardup_matches,
    )

    assert neardup_threshold_curve(spark, str(tmp_path / "nowhere")) is None

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    gen0 = mk([(i, f"base document number {i} on topic {i} with words") for i in range(12)])
    # recrawl under fresh ids -> exact matches at jaccard 1.0
    gen1 = mk(
        [(100 + i, f"base document number {i} on topic {i} with words") for i in range(6)]
        + [(200, "entirely new content matching nothing else here")]
    )
    idx, mat = str(tmp_path / "idx"), str(tmp_path / "mat")
    ck = str(tmp_path / "ck")
    for b, frame in enumerate((gen0, gen1)):
        _neardup_sink_batch(
            frame, _lineage_keys(ck)(b), idx, matches_path=mat, threshold=0.5
        )
    got = {
        (r["band_lo"], r["n_pairs"], r["n_pairs_at_or_above"])
        for r in neardup_threshold_curve(spark, mat).collect()
    }
    exp_pairs = read_neardup_matches(spark, mat).select(
        F.col("id_new").alias("id_a"), F.col("id_ref").alias("id_b"), "jaccard"
    )
    exp = {
        (r["band_lo"], r["n_pairs"], r["n_pairs_at_or_above"])
        for r in dedup_threshold_curve(exp_pairs).collect()
    }
    assert got == exp and got


def _seed_quantizer(spark, corpus, index_path, n_centroids=8):
    """Train and persist ONLY the frozen quantizer (a stream may start
    from a trained quantizer with no seed cells)."""
    from token_etl_spark.operators.similarity import spherical_kmeans

    cents = spherical_kmeans(corpus, n_centroids=n_centroids, n_iters=2)
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")


def test_streaming_embedding_neardup_matches_sequential_batch(
    spark, sf_dir, tmp_path
):
    """run_streaming_embedding_neardup over micro-batches admits exactly
    the vectors a sequential replay of the same ivf_search_frames logic
    admits, appends the same (id_new, id_ref, cosine_sim) pairs, and
    suppresses recrawled vectors (same embedding under a fresh id →
    cosine 1.0 ≥ threshold → dropped)."""
    import os

    from token_etl_spark.io.sinks import _read_existing
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.similarity import (
        _assign_to_centroids,
        ivf_search_frames,
    )
    from token_etl_spark.streaming.dedup import (
        read_embedding_index,
        read_embedding_matches,
        run_streaming_embedding_neardup,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(120).localCheckpoint()
    gens = [emb.where(F.col("vec_id") % 3 == g) for g in range(3)]
    # generation 1 re-crawls ten generation-0 vectors under fresh ids
    # (identical embedding => cosine exactly 1.0)
    recrawl = (
        gens[0].orderBy("vec_id").limit(10)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )
    gens[1] = gens[1].unionByName(recrawl)

    staged = tmp_path / "emb_stream"
    staged.mkdir()
    for g, frame in enumerate(gens):
        sub = tmp_path / f"embgen{g}"
        frame.coalesce(1).write.parquet(str(sub))
        part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
        dst = staged / f"gen{g}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + g, 1_700_000_000 + g))

    index_path = str(tmp_path / "emb_index")
    matches_path = str(tmp_path / "emb_matches")
    checkpoint_path = str(tmp_path / "emb_ckpt")
    _seed_quantizer(spark, emb, index_path)

    def _run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(staged))
        )
        run_streaming_embedding_neardup(
            stream,
            index_path,
            threshold=0.95,
            matches_path=matches_path,
            checkpoint_path=checkpoint_path,
        )

    _run()

    # sequential batch replay: same quantizer, same serving function
    cents = _read_existing(spark, f"{index_path}/centroids").localCheckpoint()
    assigned = None
    exp_ids: set = set()
    exp_matches: set = set()
    for frame in gens:
        if assigned is not None:
            hits = ivf_search_frames(cents, assigned, frame).filter(
                F.col("cosine_sim") >= 0.95
            )
            rows = hits.collect()
            exp_matches |= {
                (r["query_id"], r["neighbor_id"], round(r["cosine_sim"], 6))
                for r in rows
            }
            dup = {r["query_id"] for r in rows}
        else:
            dup = set()
        novel = frame.where(~F.col("vec_id").isin(dup))
        exp_ids |= {r["vec_id"] for r in novel.select("vec_id").collect()}
        new_rows = _assign_to_centroids(
            novel.select(
                F.col("vec_id").alias("corpus_id"),
                F.col("embedding").cast("array<double>").alias("cv"),
            ),
            F.broadcast(cents),
            "cv",
            False,
        )
        assigned = (
            new_rows if assigned is None else assigned.unionByName(new_rows)
        ).localCheckpoint()

    def _observed():
        ids = {
            r["corpus_id"]
            for r in read_embedding_index(spark, index_path)
            .select("corpus_id").collect()
        }
        pairs = {
            (r["id_new"], r["id_ref"], round(r["cosine_sim"], 6))
            for r in read_embedding_matches(spark, matches_path).collect()
        }
        return ids, pairs

    got_ids, got_matches = _observed()
    assert got_ids == exp_ids and got_ids
    assert exp_matches  # the recrawl fixture guarantees pairs
    assert got_matches == exp_matches
    # every recrawled copy matched the index and was suppressed
    assert not any(i >= 1_000_000 for i in got_ids)

    # IDEMPOTENCY: re-running over the same source with the same
    # checkpoint replays nothing; state unchanged
    _run()
    assert _observed() == (got_ids, got_matches)


def test_embedding_sink_retry_after_partial_write_is_idempotent(
    spark, sf_dir, tmp_path
):
    """A foreachBatch RETRY (crash after the state write, before the
    checkpoint commit) re-executes with the same lineage key: the sink
    must exclude its own partial partition from the index read —
    otherwise every vector self-matches its own partial copy at cosine
    1.0 and the partition is overwritten EMPTY (vectors lost)."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.dedup import (
        _embedding_neardup_sink_batch,
        read_embedding_index,
        read_embedding_matches,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(40).localCheckpoint()
    index_path = str(tmp_path / "emb_retry_index")
    matches_path = str(tmp_path / "emb_retry_matches")
    _seed_quantizer(spark, emb, index_path)

    _embedding_neardup_sink_batch(
        emb, "aaaa1111-0", index_path, matches_path=matches_path
    )
    first = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert first == {r["vec_id"] for r in emb.select("vec_id").collect()}

    # retry of the SAME batch under the SAME key: state must converge,
    # not self-match-and-empty
    _embedding_neardup_sink_batch(
        emb, "aaaa1111-0", index_path, matches_path=matches_path
    )
    again = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert again == first
    m = read_embedding_matches(spark, matches_path)
    assert m is None or m.count() == 0  # batch 0 has no prior index to match

    # a LATER batch re-delivering the same ids (at-least-once source)
    # matches its own earlier copies at cosine 1.0 and re-admits nothing
    _embedding_neardup_sink_batch(
        emb, "aaaa1111-1", index_path, matches_path=matches_path
    )
    final = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert final == first
    pairs = read_embedding_matches(spark, matches_path)
    self_pairs = pairs.filter(F.col("id_new") == F.col("id_ref"))
    assert self_pairs.count() == emb.count()
    assert self_pairs.filter(F.col("cosine_sim") < 1.0 - 1e-12).count() == 0


def test_embedding_stream_requires_checkpoint_and_quantizer(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.dedup import (
        _embedding_neardup_sink_batch,
        run_streaming_embedding_neardup,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(5)
    with _pytest.raises(ValueError, match="checkpoint_path"):
        run_streaming_embedding_neardup(emb, str(tmp_path / "i"))
    with _pytest.raises(ValueError, match="quantizer"):
        _embedding_neardup_sink_batch(emb, "dead0000-0", str(tmp_path / "noidx"))


def test_embedding_stream_dedups_against_batch_built_seed(spark, sf_dir, tmp_path):
    """A stream started over an index fully built by build_ivf_index
    (quantizer + seed cells) suppresses every vector already in the
    seed: the combined serving read unions seed and stream cells."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.similarity import build_ivf_index
    from token_etl_spark.streaming.dedup import (
        _embedding_neardup_sink_batch,
        read_embedding_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(60).localCheckpoint()
    seed = emb.where(F.col("vec_id") % 2 == 0)
    index_path = str(tmp_path / "emb_seed_index")
    build_ivf_index(seed, index_path, n_centroids=8, refine_iters=2)

    # batch = recrawls of seed vectors (fresh ids) + genuinely new ones
    recrawl = seed.limit(10).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    fresh = emb.where(F.col("vec_id") % 2 == 1)
    _embedding_neardup_sink_batch(
        recrawl.unionByName(fresh), "beef0000-0", index_path, n_probe=8
    )
    ids = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    # seed survives, fresh vectors admitted, recrawls suppressed
    assert {r["vec_id"] for r in seed.select("vec_id").collect()} <= ids
    assert {r["vec_id"] for r in fresh.select("vec_id").collect()} <= ids
    assert not any(i >= 1_000_000 for i in ids)


def test_embedding_index_health_reports_all_cells(spark, sf_dir, tmp_path):
    """The health report covers every trained cell of the combined
    (seed + streamed) index, counts every admitted vector exactly once,
    and returns None before any assignment exists."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.streaming.dedup import (
        _embedding_neardup_sink_batch,
        embedding_index_health,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(50).localCheckpoint()
    index_path = str(tmp_path / "emb_health")
    _seed_quantizer(spark, emb, index_path, n_centroids=8)
    assert embedding_index_health(spark, index_path) is None

    _embedding_neardup_sink_batch(emb, "cafe0000-0", index_path)
    rows = embedding_index_health(spark, index_path).collect()
    assert len(rows) == 8  # every trained cell, empty ones included
    assert sum(r["n_vectors"] for r in rows) == 50
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-12


def test_embedding_stream_survives_all_duplicate_first_batch(
    spark, sf_dir, tmp_path
):
    """ADVICE r10 (high): an all-recrawl batch admits nothing, and a
    partitionBy write of the empty novel frame leaves a partition dir
    holding only _SUCCESS — if that is the only stream partition, every
    later batch's index read (and every retry's) dies with
    UNABLE_TO_INFER_SCHEMA and the stream is permanently wedged. The
    sink must skip (and retry-clean) the empty write; later batches and
    the health report must keep working."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.similarity import build_ivf_index
    from token_etl_spark.streaming.dedup import (
        _embedding_neardup_sink_batch,
        embedding_index_health,
        read_embedding_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(60).localCheckpoint()
    seed = emb.where(F.col("vec_id") % 2 == 0)
    index_path = str(tmp_path / "emb_allrecrawl")
    build_ivf_index(seed, index_path, n_centroids=8, refine_iters=2)
    seed_ids = {r["vec_id"] for r in seed.select("vec_id").collect()}

    # batch 0: ONLY recrawls of seed vectors (fresh ids, cosine 1.0)
    recrawl = seed.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    _embedding_neardup_sink_batch(recrawl, "feed0000-0", index_path, n_probe=8)
    ids = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert ids == seed_ids  # nothing admitted, seed intact

    # batch 1 must not crash on the (absent) batch-0 partition, and the
    # genuinely-new vectors are admitted
    fresh = emb.where(F.col("vec_id") % 2 == 1)
    _embedding_neardup_sink_batch(fresh, "feed0000-1", index_path, n_probe=8)
    ids = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert ids == seed_ids | {r["vec_id"] for r in fresh.select("vec_id").collect()}

    # the health report's 'zero-row dirs return None' contract holds too
    assert embedding_index_health(spark, index_path).count() == 8


def test_rebuild_ivf_index_preserves_state_across_stream_continuation(
    spark, sf_dir, tmp_path
):
    """rebuild_ivf_index is the retrain lever for the health report's
    drift signal: it must absorb every admitted vector into the new
    assignments (stream partitions gone), keep the cell count, and a
    CONTINUING stream must keep deduplicating against everything
    admitted before the retrain — recrawls still suppressed, matches
    still accumulating, novel vectors still admitted."""
    from token_etl_spark.io.sinks import _read_existing
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.similarity import build_ivf_index
    from token_etl_spark.streaming.dedup import (
        _embedding_neardup_sink_batch,
        embedding_index_health,
        read_embedding_index,
        read_embedding_matches,
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(90).localCheckpoint()
    gens = [
        emb.where(F.col("vec_id") % 3 == g).localCheckpoint() for g in range(3)
    ]
    index_path = str(tmp_path / "emb_retrain")
    matches_path = str(tmp_path / "emb_retrain_matches")
    build_ivf_index(gens[0], index_path, n_centroids=8, refine_iters=2)

    # stream batch 0 admits generation 1
    _embedding_neardup_sink_batch(
        gens[1], "abcd0000-0", index_path, n_probe=8, matches_path=matches_path
    )
    admitted = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert admitted == {
        r["vec_id"] for r in gens[0].unionByName(gens[1]).select("vec_id").collect()
    }

    n = rebuild_ivf_index(spark, index_path)
    assert n == len(admitted)
    # every vector re-indexed into assignments; stream partitions absorbed
    rebuilt = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert rebuilt == admitted
    assert _read_existing(
        spark, f"{index_path}/stream_assignments"
    ) is None
    cents = _read_existing(spark, f"{index_path}/centroids")
    assert cents.count() == 8  # cell count preserved by default
    # the health report now reads the rebuilt (assignments-only) index
    health = embedding_index_health(spark, index_path).collect()
    assert sum(r["n_vectors"] for r in health) == len(admitted)

    # CONTINUATION batch after the retrain: recrawls of pre-retrain
    # vectors (seed AND stream-admitted) are suppressed, novel admitted
    recrawl = (
        gens[0].limit(5).unionByName(gens[1].limit(5))
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )
    _embedding_neardup_sink_batch(
        recrawl.unionByName(gens[2]),
        "abcd0000-1",
        index_path,
        n_probe=8,
        matches_path=matches_path,
    )
    final = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert final == admitted | {
        r["vec_id"] for r in gens[2].select("vec_id").collect()
    }
    assert not any(i >= 1_000_000 for i in final)
    # matches kept accumulating across the retrain (10 recrawl pairs)
    pairs = read_embedding_matches(spark, matches_path)
    assert pairs.filter(F.col("id_new") >= 1_000_000).count() == 10

    # determinism: once a rebuild has absorbed everything, a repeat
    # rebuild (the retry of a crashed one) converges to the identical
    # index — training init is the n smallest corpus ids, so the same
    # vector set trains the same quantizer
    rebuild_ivf_index(spark, index_path)
    before = sorted(
        (r["corpus_id"], r["centroid_id"])
        for r in read_embedding_index(spark, index_path).collect()
    )
    rebuild_ivf_index(spark, index_path)
    after = sorted(
        (r["corpus_id"], r["centroid_id"])
        for r in read_embedding_index(spark, index_path).collect()
    )
    assert after == before


def test_rebuild_ivf_index_heals_interrupted_swap_and_resizes(
    spark, sf_dir, tmp_path
):
    """The one non-atomic swap window (final dir deleted, complete
    staging present) is read in place — a continuing stream's sink must
    not see 'no quantizer' — and the rebuild, a writer, heals it. And
    n_centroids overrides the
    cell count (the growth-probe mitigation: more cells, flatter
    per-batch slope)."""
    from token_etl_spark.io.sinks import _bucket_fs, _read_existing
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.similarity import build_ivf_index
    from token_etl_spark.streaming.dedup import (
        _read_quantizer,
        read_embedding_index,
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(50).localCheckpoint()
    index_path = str(tmp_path / "emb_heal")
    build_ivf_index(emb, index_path, n_centroids=4, refine_iters=2)
    ids = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }

    # simulate the crash window: the complete new tree sits in staging,
    # the final dir is already gone
    fs, hpath = _bucket_fs(spark, index_path)
    assert fs.rename(hpath(index_path), hpath(index_path + ".staging-full"))
    healed = read_embedding_index(spark, index_path)
    assert {r["corpus_id"] for r in healed.select("corpus_id").collect()} == ids
    assert _read_quantizer(spark, index_path).count() == 4

    # resize: the retrain lever the mitigation measurement asks for
    rebuild_ivf_index(spark, index_path, n_centroids=16)
    assert _read_existing(spark, f"{index_path}/centroids").count() == 16
    rebuilt = {
        r["corpus_id"]
        for r in read_embedding_index(spark, index_path).select("corpus_id").collect()
    }
    assert rebuilt == ids


def test_read_partitioned_state_heals_wedged_empty_partition_dir(
    spark, sf_dir, tmp_path
):
    """A state dir already wedged by a pre-guard empty partitioned write
    (batch_id=<key> holding only _SUCCESS) reads as None instead of
    raising UNABLE_TO_INFER_SCHEMA — the reader-side half of the ADVICE
    r10 fix, which un-wedges dirs written before the sink-side guard.
    A genuinely broken dir (non-parquet data file) still raises (as a
    footer-read failure — the schema-inference job hits the corrupt
    file, so the error class is Spark's, not the analyzer's)."""
    import pytest as _pytest

    from token_etl_spark.streaming.dedup import _read_partitioned_state

    wedged = tmp_path / "wedged_state" / "batch_id=dead0000-0"
    wedged.mkdir(parents=True)
    (wedged / "_SUCCESS").touch()
    assert _read_partitioned_state(spark, str(tmp_path / "wedged_state")) is None

    broken = tmp_path / "broken_state" / "batch_id=dead0000-0"
    broken.mkdir(parents=True)
    (broken / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception, match="[Pp]arquet"):
        _read_partitioned_state(spark, str(tmp_path / "broken_state"))


def test_read_partitioned_state_heals_committer_temporary_leftovers(
    spark, tmp_path
):
    """A batch that crashed MID-write leaves part files under a hidden
    _temporary dir — invisible to the analyzer (UNABLE_TO_INFER_SCHEMA)
    but non-hidden by basename. The heal must judge visibility on every
    path segment, or the retry stays wedged on exactly the partial
    write it needs to clear (r11 review)."""
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    leftover = (
        tmp_path / "tempy_state" / "batch_id=dead0000-0"
        / "_temporary" / "0" / "task_0" 
    )
    leftover.mkdir(parents=True)
    (leftover / "part-00000-attempt.parquet").write_bytes(b"partial")
    assert _read_partitioned_state(spark, str(tmp_path / "tempy_state")) is None
