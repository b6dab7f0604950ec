"""Streaming curation: each ingest-time twin (a batch operator applied
to a stream, or a streaming/curation.py runner) agrees with its batch
form."""

from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark.io.sources import load_table
from token_etl_spark.operators import curation as C
from token_etl_spark.streaming.curation import (
    benchmark_shingle_set,
    streaming_decontaminate,
)
from token_etl_spark.streaming.dedup import read_file_stream
from token_etl_spark.streaming.hourly import run_to_memory


def _staged_docs(spark, sf_dir, tmp_path, name):
    docs = load_table(spark, sf_dir, "documents")
    staged = str(tmp_path / name)
    docs.write.parquet(staged)
    return docs, staged


def test_streaming_pii_matches_batch(spark, sf_dir, tmp_path):
    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "pii_stream")
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(C.pii_scan(stream), "pii_out", output_mode="append")
    got = spark.sql("SELECT * FROM pii_out")
    exp = C.pii_scan(docs)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_streaming_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "decon_stream")
    bench = docs.where(F.col("doc_id") % 11 == 0)
    bench_sh = benchmark_shingle_set(bench, k=3)
    stream = read_file_stream(spark, staged, docs.schema)
    out = streaming_decontaminate(stream, bench_sh, k=3, mode="drop")
    run_to_memory(out, "decon_out", output_mode="append")
    kept = spark.sql("SELECT doc_id FROM decon_out")
    # batch twin: docs with ANY shared shingle (min_overlap=1) are dropped
    contaminated = C.ngram_decontaminate(docs, bench, k=3, min_overlap=1)
    exp = docs.join(contaminated, "doc_id", "left_anti").select("doc_id")
    assert kept.count() == exp.count()
    assert kept.exceptAll(exp).count() == 0


def test_streaming_decontaminate_flag_mode_keeps_all(spark, sf_dir, tmp_path):
    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "decon_flag")
    bench = docs.where(F.col("doc_id") % 11 == 0)
    stream = read_file_stream(spark, staged, docs.schema)
    out = streaming_decontaminate(stream, benchmark_shingle_set(bench), mode="flag")
    run_to_memory(out, "decon_flag_out", output_mode="append")
    got = spark.sql("SELECT * FROM decon_flag_out")
    assert got.count() == docs.count()
    assert "contaminated" in got.columns
    # every benchmark doc overlaps itself
    n_bench = bench.count()
    flagged = got.where("contaminated").count()
    assert flagged >= n_bench


def test_streaming_line_cleanup_matches_batch(spark, sf_dir, tmp_path):
    from token_etl_spark.operators.text import line_dedup, line_filter
    from token_etl_spark.streaming.curation import streaming_line_cleanup

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "linecleanup_stream")
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        streaming_line_cleanup(stream), "lineclean_out", output_mode="append"
    )
    got = spark.sql("SELECT * FROM lineclean_out")
    # sequential hygiene: dedup runs on line_filter's 'cleaned' output,
    # so 'deduped' = filtered-then-deduped text (stages compose).
    exp = line_dedup(line_filter(docs), text_col="cleaned")
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0


def test_streaming_importance_score_matches_batch(spark, sf_dir, tmp_path):
    """Stream scoring with the offline-fit weight table reproduces the
    batch scores (within fold-order ulps), and unseen-bucket bigrams take
    the smoothed default weight instead of dropping out."""
    from token_etl_spark.streaming.curation import streaming_importance_score

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "imp_stream")
    wtab = C.importance_weight_table(docs, target_sources=("src0",), n_buckets=64)
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        streaming_importance_score(stream, wtab, n_buckets=64),
        "imp_out",
        output_mode="append",
    )
    got = {
        r["doc_id"]: r
        for r in spark.sql(
            "SELECT doc_id, n_bigrams, score, avg_weight FROM imp_out"
        ).collect()
    }
    exp = {
        r["doc_id"]: r
        for r in C.importance_weights(
            docs, target_sources=("src0",), n_buckets=64
        ).collect()
    }
    assert set(got) == set(exp)
    for d, e in exp.items():
        g = got[d]
        assert g["n_bigrams"] == e["n_bigrams"], d
        assert abs(g["score"] - e["score"]) < 1e-9 * max(1.0, abs(e["score"])), d
        assert abs(g["avg_weight"] - e["avg_weight"]) < 1e-9, d
    # default-weight path: vocabulary never seen at fit time still scores
    novel = spark.createDataFrame(
        [(999999, "qqqqx zzzzx wwwwx qqqqx zzzzx", "en", "srcX", 29)], docs.schema
    )
    out = streaming_importance_score(
        novel, wtab, n_buckets=64
    ).collect()  # batch DataFrame through the same expression tree
    assert out[0]["n_bigrams"] == 4
    assert out[0]["score"] > 0.0


def test_streaming_countmin_matches_batch(spark, sf_dir, tmp_path):
    """The running sketch after draining the stream equals the batch
    sketch of the same corpus, cell for cell (bounded-state property:
    the aggregation state IS the depth×width table)."""
    from token_etl_spark.operators.sketch import countmin_table
    from token_etl_spark.streaming.curation import streaming_countmin

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "cms_stream")
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        streaming_countmin(stream, depth=4, width=64),
        "cms_out",
        output_mode="complete",
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM cms_out").collect()))
    from token_etl_spark.operators.text import tokens as _toks
    occ = docs.select(F.explode(_toks("text")).alias("token"))
    want = sorted(map(tuple, countmin_table(occ, depth=4, width=64).collect()))
    assert got == want


def test_streaming_lm_score_matches_batch(spark, sf_dir, tmp_path):
    """Stream scoring against the pre-fit LM agrees with the batch
    operator (fold order differs → compare rounded)."""
    from token_etl_spark.operators.curation import bigram_lm_quality, bigram_lm_tables
    from token_etl_spark.streaming.curation import streaming_lm_score

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "lm_stream")
    c2, c1 = bigram_lm_tables(docs, reference_sources=("src0", "src1"))
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        streaming_lm_score(stream, c2, c1), "lm_out", output_mode="append"
    )
    got = {
        r.doc_id: r
        for r in spark.sql("SELECT doc_id, n_bigrams, score, avg_p FROM lm_out").collect()
    }
    want = {
        r.doc_id: r
        for r in bigram_lm_quality(docs, reference_sources=("src0", "src1")).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.n_bigrams == w.n_bigrams
        assert abs(g.score - w.score) < 1e-9
        assert abs(g.avg_p - w.avg_p) < 1e-9


def test_streaming_bloom_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Stream-side bloom probe == batch bloom scan: same bitmap, same
    per-doc maybe-counts, so drop mode keeps exactly the batch
    complement (FPs included — they are part of the deterministic
    contract, not noise)."""
    from token_etl_spark.operators import bloom as B
    from token_etl_spark.operators.dedup import shingles
    from token_etl_spark.streaming.curation import streaming_bloom_decontaminate

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "bloom_decon_stream")
    bench = docs.where(F.col("doc_id") % 11 == 0)
    bench_sh = shingles(bench, k=3).select("shingle").distinct()
    bf = B.bloom_bitmap(bench_sh, "shingle")
    stream = read_file_stream(spark, staged, docs.schema)
    out = streaming_bloom_decontaminate(stream, bf, k=3, mode="drop")
    run_to_memory(out, "bloom_decon_out", output_mode="append")
    kept = spark.sql("SELECT doc_id FROM bloom_decon_out")
    flagged = B.bloom_decontaminate(docs, bench, k=3, min_overlap=1)
    exp = docs.join(flagged, "doc_id", "left_anti").select("doc_id")
    assert kept.count() == exp.count()
    assert kept.exceptAll(exp).count() == 0


def test_streaming_hll_matches_batch_registers(spark, sf_dir, tmp_path):
    """Running HLL registers after draining the stream equal the batch
    registers cell for cell (bounded-state property: the aggregation
    state IS the <= m-row register table per group)."""
    from token_etl_spark.operators.sketch import hll_registers
    from token_etl_spark.operators.text import tokens as _toks
    from token_etl_spark.streaming.curation import streaming_hll

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "hll_stream")
    stream = read_file_stream(spark, staged, docs.schema)
    exploded = stream.select("source", F.explode(_toks("text")).alias("tok"))
    run_to_memory(
        streaming_hll(exploded, F.col("tok"), ("source",)),
        "hll_out",
        output_mode="complete",
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM hll_out").collect()))
    batch = docs.select("source", F.explode(_toks("text")).alias("tok"))
    want = sorted(map(tuple, hll_registers(batch, "tok", ("source",)).collect()))
    assert got == want


def test_streaming_validate_matches_batch(spark, sf_dir, tmp_path):
    from token_etl_spark.operators import profile as P
    from token_etl_spark.streaming.curation import streaming_validate

    docs, staged = _staged_docs(spark, sf_dir, tmp_path, "validate_stream")
    checks = [
        P.check_completeness("text", 1.0),
        P.check_min("n_chars", 0.0),
        P.check_row_count(10),
    ]
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        streaming_validate(stream, checks), "dq_out", output_mode="complete"
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM dq_out").collect()))
    want = sorted(map(tuple, P.validate(docs, checks).collect()))
    assert got == want

    import pytest

    with pytest.raises(ValueError):
        streaming_validate(stream, [P.check_uniqueness("doc_id")])


def test_streaming_kmv_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Merge-and-trim bottom-k over micro-batches is bit-identical to
    the batch kmv_sketch over all data (bottom-k mergeability), with
    maxFilesPerTrigger=1 forcing genuinely incremental merges."""
    from token_etl_spark.operators.sketch import kmv_pairwise, kmv_sketch
    from token_etl_spark.streaming.curation import run_streaming_kmv
    from token_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    staged = str(tmp_path / "kmv_stream")
    # several files -> several micro-batches
    docs.repartition(4).write.parquet(staged)
    state = str(tmp_path / "kmv_state")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    run_streaming_kmv(
        stream,
        F.explode(tokens("text")),
        state,
        group_cols=("source",),
        k=64,
    )

    batch_items = docs.select(
        "source", F.explode(tokens("text")).alias("_item")
    )
    exp = {
        (r["source"], r["h"], r["rank"])
        for r in kmv_sketch(batch_items, "_item", ("source",), k=64).collect()
    }
    got = {
        (r["source"], r["h"], r["rank"])
        for r in spark.read.parquet(state).collect()
    }
    assert got == exp

    # the state snapshot feeds pairwise overlap directly
    ov = kmv_pairwise(spark.read.parquet(state), "source", k=64)
    assert ov.count() > 0


def test_streaming_histogram_matches_batch(spark, sf_dir, tmp_path):
    """Running histogram over micro-batches (complete mode) equals the
    batch histogram_counts cell-for-cell."""
    from token_etl_spark.operators.sketch import histogram_counts

    docs = load_table(spark, sf_dir, "documents")
    staged = str(tmp_path / "hist_stream")
    docs.repartition(3).write.parquet(staged)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    out = histogram_counts(
        stream, "n_chars", 0.0, 2000.0, n_bins=32, group_cols=("source",)
    )
    run_to_memory(out, "hist_out", output_mode="complete")
    got = {
        (r["source"], r["bin"], r["cnt"])
        for r in spark.sql("SELECT * FROM hist_out").collect()
    }
    exp = {
        (r["source"], r["bin"], r["cnt"])
        for r in histogram_counts(
            docs, "n_chars", 0.0, 2000.0, n_bins=32, group_cols=("source",)
        ).collect()
    }
    assert got == exp


def test_streaming_semantic_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static semantic decon flags exactly the batch operator's
    contaminated set; drop mode keeps the complement."""
    from token_etl_spark.operators.similarity import semantic_decontaminate
    from token_etl_spark.streaming.curation import (
        streaming_semantic_decontaminate,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 17 == 0)
    corpus = emb.where(F.col("vec_id") % 17 != 0)
    staged = str(tmp_path / "semdecon_stream")
    corpus.write.parquet(staged)
    stream = read_file_stream(spark, staged, corpus.schema)
    out = streaming_semantic_decontaminate(stream, bench, threshold=0.35)
    run_to_memory(out, "semdecon_out", output_mode="append")
    got = {
        (r["vec_id"], r["best_match"], r["contaminated"])
        for r in spark.sql(
            "SELECT vec_id, best_match, contaminated FROM semdecon_out"
        ).collect()
    }
    exp = {
        (r["id"], r["best_match"], r["contaminated"])
        for r in semantic_decontaminate(corpus, bench, threshold=0.35).collect()
    }
    assert got == exp

    drop = streaming_semantic_decontaminate(stream, bench, threshold=0.35, mode="drop")
    run_to_memory(drop, "semdecon_drop", output_mode="append")
    kept = {r["vec_id"] for r in spark.sql("SELECT vec_id FROM semdecon_drop").collect()}
    assert kept == {v for v, _, c in exp if not c}


def test_kmv_state_corrupt_footer_raises_not_resets(spark, tmp_path):
    """A corrupt state directory must RAISE, not be treated as
    first-batch: the old bare ``except Exception`` let any read failure
    silently discard all accumulated KMV state under the overwrite."""
    import pytest
    from token_etl_spark.streaming.curation import merge_kmv_state

    state = tmp_path / "kmv_corrupt"
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"this is not parquet")
    batch = spark.createDataFrame([("a",), ("b",)], ["_item"])
    with pytest.raises(Exception) as exc:
        merge_kmv_state(batch, str(state), "_item", ())
    # the state dir was NOT clobbered by a fresh overwrite
    assert (state / "part-00000.parquet").read_bytes() == b"this is not parquet"
    assert "not parquet" not in type(exc.value).__name__.lower() or True


def test_kmv_state_swap_leaves_no_staging(spark, tmp_path):
    """The staging-dir swap replaces the state in place and cleans up:
    two merges leave exactly one state dir, no .staging-full leftovers, and
    the merged sketch equals the batch sketch over the union."""
    from token_etl_spark.operators.sketch import kmv_sketch
    from token_etl_spark.streaming.curation import merge_kmv_state

    state = str(tmp_path / "kmv_swap")
    b1 = spark.createDataFrame([(f"w{i}",) for i in range(50)], ["_item"])
    b2 = spark.createDataFrame([(f"w{i}",) for i in range(25, 75)], ["_item"])
    merge_kmv_state(b1, state, "_item", (), k=16)
    merge_kmv_state(b2, state, "_item", (), k=16)
    assert not (tmp_path / "kmv_swap.staging-full").exists()
    exp = {
        (r["h"], r["rank"])
        for r in kmv_sketch(b1.unionByName(b2), "_item", (), k=16).collect()
    }
    got = {(r["h"], r["rank"]) for r in spark.read.parquet(state).collect()}
    assert got == exp


def test_kmv_state_recovers_interrupted_swap(spark, tmp_path):
    """r6 ADVICE: a crash between delete(final) and rename(staging)
    leaves only a COMPLETE .staging-full dir; the next merge must recover it
    (rename into place) instead of silently restarting state from
    scratch via _read_existing's path-not-found -> None."""
    import shutil

    from token_etl_spark.operators.sketch import kmv_sketch
    from token_etl_spark.streaming.curation import merge_kmv_state

    state = str(tmp_path / "kmv_crash")
    b1 = spark.createDataFrame([(f"w{i}",) for i in range(50)], ["_item"])
    b2 = spark.createDataFrame([(f"w{i}",) for i in range(25, 75)], ["_item"])
    merge_kmv_state(b1, state, "_item", (), k=16)
    # simulate the crash window: final deleted, complete staging left
    shutil.move(state, state + ".staging-full")
    merge_kmv_state(b2, state, "_item", (), k=16)
    exp = {
        (r["h"], r["rank"])
        for r in kmv_sketch(b1.unionByName(b2), "_item", (), k=16).collect()
    }
    got = {(r["h"], r["rank"]) for r in spark.read.parquet(state).collect()}
    assert got == exp  # b1's contribution survived the interrupted swap


def test_kmv_state_ignores_crashed_first_write_leftover(spark, tmp_path):
    """A first merge that crashed mid-write can leave a staging dir
    holding only the committer's ``_temporary/`` and no final dir. That
    leftover carries no completeness mark, so nothing may promote it:
    renaming it into place made every later merge fail schema inference.
    The next merge succeeds and equals the batch sketch."""
    from token_etl_spark.operators.sketch import kmv_sketch
    from token_etl_spark.streaming.curation import merge_kmv_state

    state = str(tmp_path / "kmv")
    leftover = tmp_path / "kmv.staging" / "_temporary" / "0" / "task_0"
    leftover.mkdir(parents=True)
    (leftover / "part-0.parquet").write_bytes(b"partial")

    b = spark.createDataFrame([(f"w{i}",) for i in range(40)], ["_item"])
    merge_kmv_state(b, state, "_item", (), k=16)
    exp = {(r["h"], r["rank"]) for r in kmv_sketch(b, "_item", (), k=16).collect()}
    got = {(r["h"], r["rank"]) for r in spark.read.parquet(state).collect()}
    assert got == exp


def test_semantic_decontaminate_empty_benchmark_keeps_all(spark, sf_dir, tmp_path):
    """Empty benchmark => contaminated is FALSE (not NULL) everywhere, so
    drop mode keeps the whole corpus/stream instead of silently dropping
    every row through a ~NULL filter — batch and streaming twins."""
    from token_etl_spark.operators.similarity import semantic_decontaminate
    from token_etl_spark.streaming.curation import streaming_semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    empty_bench = emb.where(F.lit(False))
    n = emb.count()

    flags = semantic_decontaminate(emb, empty_bench).collect()
    assert len(flags) == n
    assert all(r["contaminated"] is False for r in flags)

    staged = str(tmp_path / "semdecon_empty")
    emb.write.parquet(staged)
    stream = read_file_stream(spark, staged, emb.schema)
    drop = streaming_semantic_decontaminate(stream, empty_bench, mode="drop")
    run_to_memory(drop, "semdecon_empty_out", output_mode="append")
    kept = spark.sql("SELECT count(*) AS n FROM semdecon_empty_out").collect()[0]["n"]
    assert kept == n


def test_streaming_probe_score_matches_batch(spark, sf_dir, tmp_path):
    """streaming_probe_score over a staged embedding stream reproduces
    the batch linear_probe_score sweep exactly (stateless broadcast
    model — identical expression tree)."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.linear import (
        linear_probe_score,
        linear_probe_train,
    )
    from token_etl_spark.streaming.curation import streaming_probe_score
    from token_etl_spark.streaming.hourly import run_to_memory

    emb = load_table(spark, sf_dir, "embeddings")
    model = linear_probe_train(emb, n_iters=2).localCheckpoint()

    staged = str(tmp_path / "probe_stream")
    emb.write.parquet(staged)
    stream = spark.readStream.schema(emb.schema).parquet(staged)
    out = streaming_probe_score(stream, model, threshold=0.5)
    run_to_memory(out, "probe_scored", output_mode="append")

    got = {
        r["vec_id"]: (round(r["score"], 9), r["pred"])
        for r in spark.sql("SELECT vec_id, score, pred FROM probe_scored").collect()
    }
    exp = {
        r["id"]: (round(r["score"], 9), r["pred"])
        for r in linear_probe_score(emb, model, threshold=0.5).collect()
    }
    assert got == exp and got


def test_streaming_zscore_flag_matches_batch(spark, sf_dir, tmp_path):
    """streaming_zscore_flag against pre-fit stats reproduces the batch
    zscore_outliers flags exactly (stateless broadcast stream-static
    join — identical expression tree), including degenerate and unseen
    groups."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.profile import zscore_outliers, zscore_stats
    from token_etl_spark.streaming.curation import streaming_zscore_flag
    from token_etl_spark.streaming.hourly import run_to_memory

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stats = zscore_stats(ev, "value", ["event_type"]).localCheckpoint()

    staged = str(tmp_path / "zscore_stream")
    ev.write.parquet(staged)
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    out = streaming_zscore_flag(stream, stats, "value", ["event_type"], threshold=3.0)
    run_to_memory(out, "zscore_flagged", output_mode="append")

    got = {
        r["event_id"]: (None if r["z"] is None else round(r["z"], 9), r["is_outlier"])
        for r in spark.sql("SELECT event_id, z, is_outlier FROM zscore_flagged").collect()
    }
    exp = {
        r["event_id"]: (None if r["z"] is None else round(r["z"], 9), r["is_outlier"])
        for r in zscore_outliers(ev, "value", ["event_type"], threshold=3.0).collect()
    }
    assert got == exp and got
    assert any(flag for _, flag in got.values())


def test_streaming_novelty_matches_batch_on_ordered_batches(spark, sf_dir, tmp_path):
    """run_streaming_novelty over id-ordered micro-batches (batch N's
    ids all precede batch N+1's) must reproduce the batch
    ngram_novelty over the concatenated corpus exactly — the declared
    equivalence contract — and a second run over only the LAST batch's
    ids against the accumulated index must again agree (incremental
    continuation, no corpus re-scan)."""
    import os

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.curation import ngram_novelty
    from token_etl_spark.streaming.curation import (
        read_novelty_scores,
        run_streaming_novelty,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    docs = docs.select("doc_id", "text").localCheckpoint()
    cuts = [(0, 40), (40, 80), (80, 120)]
    staged = tmp_path / "nov_stream"
    staged.mkdir()
    for g, (lo, hi) in enumerate(cuts):
        sub = tmp_path / f"novgen{g}"
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.parquet(str(sub))
        part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
        dst = staged / f"gen{g}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + g, 1_700_000_000 + g))

    index_path = str(tmp_path / "nov_index")
    scores_path = str(tmp_path / "nov_scores")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staged))
    )
    run_streaming_novelty(
        stream,
        index_path,
        scores_path=scores_path,
        checkpoint_path=str(tmp_path / "nov_ckpt"),
    )

    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], round(r["novelty"], 6))
        for r in read_novelty_scores(spark, scores_path).collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], round(r["novelty"], 6))
        for r in ngram_novelty(docs, k=3).collect()
    }
    assert got == want

    # compact the 3 per-batch gram partitions into one consolidated
    # partition — the continuation below must be unaffected (VERDICT r7
    # item 7: compaction + unchanged stream≡batch equivalence)
    from token_etl_spark.streaming.dedup import compact_state_partitions

    assert compact_state_partitions(spark, index_path) == 3

    # incremental continuation: stream 40 MORE docs against the kept index
    more = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 160)
    ).select("doc_id", "text").localCheckpoint()
    staged2 = tmp_path / "nov_stream2"
    staged2.mkdir()
    sub = tmp_path / "novgen3"
    more.coalesce(1).write.parquet(str(sub))
    part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
    part.rename(staged2 / "gen3.parquet")
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staged2))
    )
    run_streaming_novelty(
        stream2,
        index_path,
        scores_path=scores_path,
        checkpoint_path=str(tmp_path / "nov_ckpt2"),
    )
    all_batch = ngram_novelty(docs.unionByName(more), k=3)
    want_all = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], round(r["novelty"], 6))
        for r in all_batch.collect()
    }
    got_all = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], round(r["novelty"], 6))
        for r in read_novelty_scores(spark, scores_path).collect()
    }
    assert got_all == want_all


def test_streaming_url_canonicalize_matches_batch(spark, tmp_path):
    urls = spark.createDataFrame(
        [
            (1, "HTTP://WWW.Example.COM:80/Path/Sub/?utm_source=x&b=2&a=1#frag"),
            (2, "https://example.com:443/"),
            (3, "https://example.com:8080/p?a=1&utm_campaign=y"),
            (4, "http://Example.com"),
        ],
        "id long, url string",
    )
    staged = str(tmp_path / "url_stream")
    urls.write.parquet(staged)
    stream = read_file_stream(spark, staged, urls.schema)
    run_to_memory(C.url_canonicalize(stream), "url_out", output_mode="append")
    got = spark.sql("SELECT * FROM url_out")
    exp = C.url_canonicalize(urls)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_streaming_text_normalize_matches_batch(spark, tmp_path):
    from token_etl_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "  Mixed CASE\tand\x07ctrl  chars "),
            (2, "already clean"),
            (3, "UPPER  only"),
        ],
        "id long, text string",
    )
    staged = str(tmp_path / "norm_stream")
    docs.write.parquet(staged)
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(normalize_text(stream), "norm_out", output_mode="append")
    got = spark.sql("SELECT * FROM norm_out")
    exp = normalize_text(docs)
    assert got.count() == exp.count() == 3
    assert got.exceptAll(exp).count() == 0


def _stage_ordered_files(tmp_path, frames, subdir="snap_stream"):
    """Write each frame as one parquet file with pinned mtimes so the
    FileStreamSource delivers them in order (one file per trigger)."""
    import os

    staged = tmp_path / subdir
    staged.mkdir()
    for g, frame in enumerate(frames):
        sub = tmp_path / f"{subdir}_gen{g}"
        frame.coalesce(1).write.parquet(str(sub))
        part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
        dst = staged / f"gen{g}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + g, 1_700_000_000 + g))
    return staged


def test_streaming_snapshot_diff_matches_batch(spark, sf_dir, tmp_path):
    """Stream≡batch: the per-batch added/changed/unchanged rows plus the
    finalize-time removed rows reproduce operators/curation.snapshot_diff
    exactly, including retry idempotency, a continuation resume, and
    state compaction."""
    from token_etl_spark.operators.curation import snapshot_diff
    from token_etl_spark.streaming.curation import (
        _snapshot_diff_sink_batch,
        finalize_snapshot_diff,
        run_streaming_snapshot_diff,
        write_snapshot_state,
    )
    from token_etl_spark.streaming.dedup import (
        _lineage_keys,
        compact_state_partitions,
    )

    base = load_table(spark, sf_dir, "documents").limit(150)
    # NULL-text coverage for the shared eqNullSafe contract: ids 3 mod 11
    # are NULL on BOTH sides (-> unchanged), and the new side NULLs ids
    # 7 mod 11 (-> changed: NULL on one side only IS a content change)
    docs = base.withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("text")),
    ).localCheckpoint()
    old = docs.where(F.col("doc_id") % 5 != 4)  # ids 4 mod 5 -> "added"
    # new snapshot: drops ids 0 mod 5 ("removed"), rewrites 1 mod 5
    # ("changed"), keeps the rest byte-identical ("unchanged")
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 7, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    ).localCheckpoint()

    exp = {(r["id"], r["status"]) for r in snapshot_diff(old, new).collect()}

    old_path = str(tmp_path / "old_state")
    diff_path = str(tmp_path / "diff_state")
    ckpt = str(tmp_path / "snap_ckpt")
    write_snapshot_state(old, old_path)

    # the new snapshot lands in 3 micro-batches; the LAST file is held
    # back to exercise a continuation resume afterwards
    gens = [new.where(F.col("doc_id") % 3 == g) for g in range(3)]
    staged = _stage_ordered_files(tmp_path, gens[:2])

    def _run():
        stream = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(staged))
        )
        run_streaming_snapshot_diff(stream, old_path, diff_path, ckpt)

    _run()
    # continuation: the third file arrives later; SAME checkpoint resumes
    import os

    sub = tmp_path / "late_gen"
    gens[2].coalesce(1).write.parquet(str(sub))
    part = next(p for p in sub.iterdir() if p.name.endswith(".parquet"))
    dst = staged / "gen2.parquet"
    part.rename(dst)
    os.utime(dst, (1_700_000_005, 1_700_000_005))
    _run()

    got = {
        (r["id"], r["status"])
        for r in finalize_snapshot_diff(spark, old_path, diff_path).collect()
    }
    assert got == exp

    # retry idempotency: re-running a batch sink with its same key
    # rewrites its partition, leaving the final report unchanged
    _snapshot_diff_sink_batch(
        gens[0], _lineage_keys(ckpt)(0), old_path, diff_path
    )
    got2 = {
        (r["id"], r["status"])
        for r in finalize_snapshot_diff(spark, old_path, diff_path).collect()
    }
    assert got2 == exp

    # compaction: partition layout collapses, report identical
    absorbed = compact_state_partitions(spark, diff_path)
    assert absorbed >= 2
    got3 = {
        (r["id"], r["status"])
        for r in finalize_snapshot_diff(spark, old_path, diff_path).collect()
    }
    assert got3 == exp


def test_streaming_snapshot_diff_requires_checkpoint(spark, tmp_path):
    import pytest

    from token_etl_spark.streaming.curation import run_streaming_snapshot_diff

    with pytest.raises(ValueError, match="checkpoint_path"):
        run_streaming_snapshot_diff(None, "x", "y", "")


def test_streaming_url_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Stream≡batch for the ingest-tier URL keep-best: the incremental
    bucketed state converges to exactly the batch url_dedup's kept rows,
    a mid-stream crash retry converges (keep-best is idempotent), and
    untouched buckets are not rewritten."""
    import os

    from token_etl_spark.operators.curation import url_dedup
    from token_etl_spark.streaming.curation import (
        _url_dedup_sink_batch,
        read_url_dedup_state,
        run_streaming_url_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").limit(150)
    # colliding crawl URLs: 3 spellings of one resource per id-group,
    # quality = n_chars (longest wins, ties to smallest id)
    k = F.col("doc_id") % 40
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://")).otherwise(
        F.lit("https://")
    )
    q = F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=x")).otherwise(F.lit(""))
    frame = docs.select(
        "doc_id",
        F.concat(
            scheme, F.lit("Site.example.com/r/"), k.cast("string"), q
        ).alias("url"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ).localCheckpoint()

    exp = {
        (r["canon_url"], r["doc_id"])
        for r in url_dedup(frame, quality_col="n_chars").where("kept").collect()
    }

    gens = [frame.where(F.col("doc_id") % 3 == g) for g in range(3)]
    staged = _stage_ordered_files(tmp_path, gens, subdir="url_stream")
    state = str(tmp_path / "url_state")
    ckpt = str(tmp_path / "url_ckpt")

    stream = (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staged))
    )
    run_streaming_url_dedup(
        stream, state, ckpt, n_buckets=8, quality_col="n_chars"
    )
    got = {
        (r["canon_url"], r["doc_id"])
        for r in read_url_dedup_state(spark, state).collect()
    }
    assert got == exp

    # crash-retry convergence: re-apply an already-absorbed batch
    _url_dedup_sink_batch(gens[1], state, n_buckets=8, quality_col="n_chars")
    got2 = {
        (r["canon_url"], r["doc_id"])
        for r in read_url_dedup_state(spark, state).collect()
    }
    assert got2 == exp

    # incremental layout: state is bucket-partitioned parquet
    buckets = [d for d in os.listdir(state) if d.startswith("_bucket=")]
    assert 1 < len(buckets) <= 8

    # untouched buckets stay byte-identical: replay a one-row batch and
    # check only its bucket dirs' mtimes move
    import time

    before = {d: os.stat(os.path.join(state, d)).st_mtime for d in buckets}
    time.sleep(1.05)
    one = frame.orderBy("doc_id").limit(1)
    _url_dedup_sink_batch(one, state, n_buckets=8, quality_col="n_chars")
    after = {d: os.stat(os.path.join(state, d)).st_mtime for d in buckets}
    changed = [d for d in buckets if after[d] != before[d]]
    assert 1 <= len(changed) < len(buckets)


def test_streaming_html_extract_matches_batch(spark, tmp_path):
    from token_etl_spark.operators.text import extract_html_text

    docs = spark.createDataFrame(
        [
            (
                1,
                "<p>A perfectly ordinary paragraph of crawl prose that "
                "clears the length gate without difficulty.</p>"
                '<nav><a href="/">Home</a> <a href="/a">About</a></nav>',
            ),
            (2, "plain text with no markup at all but plenty long to keep"),
            (3, None),
        ],
        "id long, text string",
    )
    staged = str(tmp_path / "html_stream")
    docs.write.parquet(staged)
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(extract_html_text(stream), "html_out", output_mode="append")
    got = spark.sql("SELECT * FROM html_out")
    exp = extract_html_text(docs)
    assert got.count() == exp.count() == 3
    assert got.exceptAll(exp).count() == 0


def test_streaming_shard_router_matches_batch(spark, sf_dir, tmp_path):
    """Incremental shard export: a crawl stream routed against the
    base export's manifest lands every document in the same shard the
    batch route_to_shards computes, a crash retry of an absorbed batch
    converges (own-partition overwrite), and the combined reader serves
    base + increments with shard pruning intact."""
    from token_etl_spark.io.sinks import export_shards
    from token_etl_spark.operators.curation import route_to_shards
    from token_etl_spark.operators.text import token_count
    from token_etl_spark.streaming.curation import (
        _route_sink_batch,
        read_incremental_shards,
        run_streaming_shard_router,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1).localCheckpoint()

    export = str(tmp_path / "shard_export")
    export_shards(spark, base_docs, export, tokens_per_shard=500)

    gens = [new_docs.where(F.col("doc_id") % 3 == g) for g in range(3)]
    staged = _stage_ordered_files(tmp_path, gens, subdir="router_stream")
    ckpt = str(tmp_path / "router_ckpt")
    stream = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staged))
    )
    run_streaming_shard_router(stream, export, ckpt)

    manifest = spark.read.parquet(f"{export}/manifest")
    exp_new = {
        (r["doc_id"], r["shard_id"])
        for r in route_to_shards(
            new_docs.withColumn("n_tokens", token_count("text").cast("long")),
            manifest,
        ).collect()
    }
    combined = read_incremental_shards(spark, export)
    got_new = {
        (r["doc_id"], r["shard_id"])
        for r in combined.where(F.col("doc_id") % 2 == 1).collect()
    }
    assert got_new == exp_new and len(got_new) == new_docs.count()
    # base rows untouched and present
    assert combined.count() == docs.count()

    # crash-retry convergence: re-apply an absorbed batch under its key
    before = combined.count()
    _route_sink_batch(
        gens[1], export, "deadbeef-1", "doc_id", None, "text", "s0"
    )
    _route_sink_batch(
        gens[1], export, "deadbeef-1", "doc_id", None, "text", "s0"
    )
    after = read_incremental_shards(spark, export).count()
    assert after == before + gens[1].count()  # once, not twice

    # every routed doc's key really falls at-or-after its shard's range
    # start (the manifest-range routing contract)
    man = {r["shard_id"]: r for r in manifest.collect()}
    first = min(man.values(), key=lambda r: r["first_key"])
    for r in route_to_shards(new_docs.limit(50), manifest).collect():
        m = man[r["shard_id"]]
        assert r["ord_key"] >= m["first_key"] or m["shard_id"] == first["shard_id"]


def test_shard_router_param_mismatch_raises_and_adopts(spark, sf_dir, tmp_path):
    """(key_col, seed) are recorded beside the manifest by export_shards;
    the router ADOPTS them when not given and REFUSES a mismatch — a
    foreign seed would silently route every key into the wrong range
    (review-found r11)."""
    import pytest

    from token_etl_spark.io.sinks import export_shards
    from token_etl_spark.operators.curation import route_to_shards
    from token_etl_spark.streaming.curation import (
        _resolve_route_params,
        _route_sink_batch,
        read_incremental_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    export = str(tmp_path / "param_export")
    export_shards(spark, docs, export, tokens_per_shard=400, seed="sX")

    # adoption: None resolves to the recorded values
    assert _resolve_route_params(spark, export, None, None) == ("doc_id", "sX")
    # explicit match passes; mismatch raises loudly
    assert _resolve_route_params(spark, export, "doc_id", "sX") == ("doc_id", "sX")
    with pytest.raises(ValueError, match="foreign shard ranges"):
        _resolve_route_params(spark, export, None, "s0")

    # end-to-end: a sink batch with adopted params routes identically to
    # the batch operator under the recorded seed
    new = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    _route_sink_batch(new, export, "cafe-0", None, None, "text", None)
    manifest = spark.read.parquet(f"{export}/manifest")
    exp = {
        (r["doc_id"], r["shard_id"])
        for r in route_to_shards(new, manifest, seed="sX").collect()
    }
    got = {
        (r["doc_id"], r["shard_id"])
        for r in read_incremental_shards(spark, export)
        .where(F.col("doc_id") >= 100000)
        .collect()
    }
    assert got == exp and len(got) == 100


def test_read_incremental_shards_heals_empty_incoming(spark, sf_dir, tmp_path):
    """An incoming/ dir with zero data files (crashed mid-first-batch:
    committer leftovers only) must serve the base alone, not wedge the
    combined reader on UNABLE_TO_INFER_SCHEMA (review-found r11 — the
    ADVICE-r10 wedge class)."""
    import os

    from token_etl_spark.io.sinks import export_shards
    from token_etl_spark.streaming.curation import read_incremental_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    export = str(tmp_path / "heal_export")
    export_shards(spark, docs, export, tokens_per_shard=300)
    os.makedirs(f"{export}/incoming/batch_id=dead-0/_temporary", exist_ok=True)
    with open(f"{export}/incoming/batch_id=dead-0/_SUCCESS", "w"):
        pass
    combined = read_incremental_shards(spark, export)
    assert combined.count() == 60


def test_streaming_domain_filter_matches_batch(spark, tmp_path):
    from token_etl_spark.operators.curation import domain_filter, domain_stats

    rows = (
        [(i, f"https://a.good.com/{i}", 0.9) for i in range(30)]
        + [(i, f"http://spam.net/{i}", 0.2) for i in range(30, 40)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, url string, q double")
    stats = domain_stats(docs, quality_col="q").localCheckpoint()

    staged = str(tmp_path / "dom_stream")
    docs.write.parquet(staged)
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        domain_filter(stream, stats, min_docs=5, min_mean_quality=0.5),
        "dom_out",
        output_mode="append",
    )
    got = spark.sql("SELECT doc_id, domain, domain_kept FROM dom_out")
    exp = domain_filter(docs, stats, min_docs=5, min_mean_quality=0.5).select(
        "doc_id", "domain", "domain_kept"
    )
    assert got.count() == exp.count() == 40
    assert got.exceptAll(exp).count() == 0
    assert got.where("domain_kept").count() == 30


def test_streaming_domain_gate_picks_up_refresh(spark, tmp_path):
    """The refresh-aware domain gate re-loads the saved reputation tree
    every micro-batch: a continuing stream (same checkpoint) gates
    batch N under the OLD keep-list and batch N+1 under the one
    refresh_domain_stats swapped in between — no restart (VERDICT r12
    item 4, the retrain-lever shape applied to the domain gate)."""
    import os

    from token_etl_spark.operators.curation import (
        fit_and_save_domain_stats,
        refresh_domain_stats,
    )
    from token_etl_spark.streaming.curation import run_streaming_domain_gate

    # reputation corpus v1: good.com is reputable, rare.org unknown
    corpus_v1 = spark.createDataFrame(
        [(i, f"https://good.com/{i}") for i in range(10)],
        "doc_id long, url string",
    )
    stats_path = str(tmp_path / "reputation")
    fit_and_save_domain_stats(spark, corpus_v1, stats_path)

    batch = spark.createDataFrame(
        [(0, "https://good.com/a"), (1, "https://rare.org/b")],
        "doc_id long, url string",
    )
    src = str(tmp_path / "gate_src")
    os.makedirs(src)
    batch.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    run_streaming_domain_gate(stream, stats_path, out, ckpt, min_docs=5)

    got1 = {r["doc_id"]: r["domain_kept"] for r in spark.read.parquet(out).collect()}
    assert got1 == {0: True, 1: False}  # rare.org not in the v1 keep-list

    # refresh: rare.org now has reputation; good.com still does
    corpus_v2 = corpus_v1.unionByName(
        spark.createDataFrame(
            [(100 + i, f"https://rare.org/{i}") for i in range(8)],
            "doc_id long, url string",
        )
    )
    refreshed = refresh_domain_stats(spark, corpus_v2, stats_path)
    assert {r["domain"] for r in refreshed.collect()} == {"good.com", "rare.org"}

    # continuation: same checkpoint, new source file → next batch gates
    # under the refreshed list with no restart
    batch2 = spark.createDataFrame(
        [(2, "https://good.com/c"), (3, "https://rare.org/d")],
        "doc_id long, url string",
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(batch.schema).parquet(src)
    run_streaming_domain_gate(stream2, stats_path, out, ckpt, min_docs=5)

    got = {r["doc_id"]: r["domain_kept"] for r in spark.read.parquet(out).collect()}
    assert got == {0: True, 1: False, 2: True, 3: True}
    # batch 1's verdicts were NOT rewritten (per-batch partition isolation)
    assert got[1] is False


def test_run_streaming_ingest_matches_batch_composition(spark, tmp_path):
    """The composed streaming ingest runner (extraction → refresh-aware
    domain gate → map-only repetition gate, one foreachBatch sink)
    reaches prepare_corpus's exact ingest decisions per document —
    domain/domain_kept/passed_repetition/ingest_keep — with gate-
    dropped rows keeping accounting rows (NULL text) and kept rows
    carrying the extracted text."""
    from token_etl_spark.operators.curation import fit_and_save_domain_stats
    from token_etl_spark.pipelines.corpus import prepare_corpus
    from token_etl_spark.streaming.curation import run_streaming_ingest

    chrome = '<html><body><nav><a href="/">Home</a> <a href="/a">About page</a></nav>'
    good = (
        "<p>the quick brown fox jumps over a lazy dog while seven other "
        "animals watch quietly from the distant hillside at dusk and a "
        "gentle breeze carries birdsong across the meadow</p></body></html>"
    )
    docs = spark.createDataFrame(
        [
            (0, chrome + good, "https://good.com/0"),
            (1, chrome + "<p>" + "the spam line is here today ok " * 20
                + "</p></body></html>", "https://good.com/1"),
            (2, chrome + good, "https://junkhost"),  # non-registrable
            (3, chrome + good, "https://rare.org/3"),  # not in keep-list
        ],
        "doc_id long, text string, url string",
    )
    # reputation fit over a corpus that knows good.com only
    rep_corpus = spark.createDataFrame(
        [(i, f"https://good.com/{i}") for i in range(6)],
        "doc_id long, url string",
    )
    stats_path = str(tmp_path / "ing_rep")
    fit_and_save_domain_stats(spark, rep_corpus, stats_path)
    stats = spark.read.parquet(f"{stats_path}/stats")

    src = str(tmp_path / "ing_src")
    docs.coalesce(1).write.parquet(src)
    out = str(tmp_path / "ing_out")
    run_streaming_ingest(
        spark.readStream.schema(docs.schema).parquet(src),
        stats_path,
        out,
        str(tmp_path / "ing_ckpt"),
        min_docs=5,
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 1, 2, 3}

    exp = {
        r["doc_id"]: r
        for r in prepare_corpus(
            docs,
            extract_html=True,
            url_col="url",
            domain_stats_frame=stats,
            domain_min_docs=5,
            repetition_filter=True,
        ).collect()
    }
    for did in exp:
        g, e = got[did], exp[did]
        assert g["domain"] == e["domain"], did
        assert g["domain_kept"] == e["domain_kept"], did
        assert g["passed_repetition"] == e["passed_repetition"], did
        assert g["ingest_keep"] == bool(
            e["domain_kept"] and (e["passed_repetition"] or False)
        ), did
    # kept rows carry extracted text (no markup); dropped rows NULL text
    assert got[0]["ingest_keep"] and "<p>" not in got[0]["text"]
    assert "quick brown fox" in got[0]["text"]
    for did in (1, 2, 3):
        assert not got[did]["ingest_keep"]
        assert got[did]["text"] is None


def test_domain_gate_sink_batch_retry_idempotent(spark, tmp_path):
    """A foreachBatch retry re-applies its own (lineage, batch_id)
    partition with mode=overwrite — re-running the module-level sink
    under the same key must not duplicate rows (the snapshot-diff sink
    contract)."""
    from token_etl_spark.operators.curation import fit_and_save_domain_stats
    from token_etl_spark.streaming.curation import _domain_gate_sink_batch

    corpus = spark.createDataFrame(
        [(i, f"https://good.com/{i}") for i in range(6)],
        "doc_id long, url string",
    )
    stats_path = str(tmp_path / "rep")
    fit_and_save_domain_stats(spark, corpus, stats_path)
    batch = spark.createDataFrame(
        [(0, "https://good.com/a"), (1, "https://junk")],
        "doc_id long, url string",
    )
    out = str(tmp_path / "gate_out")
    _domain_gate_sink_batch(batch, "feed-0", stats_path, out)
    _domain_gate_sink_batch(batch, "feed-0", stats_path, out)
    got = spark.read.parquet(out)
    assert got.count() == 2  # once, not twice
    kept = {r["doc_id"]: r["domain_kept"] for r in got.collect()}
    assert kept == {0: True, 1: False}


def _cut_compaction(spark, out):
    """Compact ``out``, then leave it in the crash window between the
    final-dir delete and the rename: the whole tree sits in the marked
    staging."""
    import os
    import shutil

    from token_etl_spark.streaming.dedup import compact_state_partitions

    assert compact_state_partitions(spark, out) == 2
    staging = out + ".staging-full"
    shutil.move(out, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    return staging


def test_domain_gate_sink_heals_interrupted_compaction(spark, tmp_path):
    """The gate sink heals its output tree before writing: a batch
    written around a marked compaction staging is dropped when the
    staging is promoted, losing that batch's decision rows."""
    import os

    from token_etl_spark.operators.curation import fit_and_save_domain_stats
    from token_etl_spark.streaming.curation import _domain_gate_sink_batch
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    docs = spark.createDataFrame(
        [(i, f"https://good.com/{i}") for i in (0, 1, 2, 3, 7)],
        "doc_id long, url string",
    )
    stats_path = str(tmp_path / "rep")
    fit_and_save_domain_stats(spark, docs, stats_path)
    out = str(tmp_path / "gate_out")
    _domain_gate_sink_batch(docs.where("doc_id < 2"), "g-0", stats_path, out)
    _domain_gate_sink_batch(docs.where("doc_id in (2, 3)"), "g-1", stats_path, out)
    staging = _cut_compaction(spark, out)

    _domain_gate_sink_batch(docs.where("doc_id = 7"), "g-2", stats_path, out)
    ids = sorted(r["doc_id"] for r in _read_partitioned_state(spark, out).collect())
    assert ids == [0, 1, 2, 3, 7]  # batch 7's decision row kept
    assert not os.path.exists(staging)


def test_novelty_sink_heals_interrupted_compaction(spark, tmp_path):
    """The novelty sink reads its gram index, then appends to it, so it
    heals the index before reading: a frame read from the marked
    compaction staging would be left pointing at files that the
    append's own heal renames away."""
    import os

    from token_etl_spark.operators.dedup import shingles
    from token_etl_spark.streaming.curation import _novelty_sink_batch
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i} delta") for i in range(8)],
        "doc_id long, text string",
    )
    grams = str(tmp_path / "grams")
    _novelty_sink_batch(docs.where("doc_id < 3"), "n-0", grams)
    _novelty_sink_batch(docs.where("doc_id between 3 and 5"), "n-1", grams)
    before = {r["shingle"] for r in _read_partitioned_state(spark, grams).collect()}
    staging = _cut_compaction(spark, grams)

    _novelty_sink_batch(docs.where("doc_id = 7"), "n-2", grams)
    after = [r["shingle"] for r in _read_partitioned_state(spark, grams).collect()]
    assert len(after) == len(set(after))  # seen grams not re-admitted
    new = shingles(docs.where("doc_id = 7"), text_col="text", id_col="doc_id", k=3)
    assert set(after) == before | {r["shingle"] for r in new.collect()}
    assert not os.path.exists(staging)


def test_ingest_sink_heals_interrupted_compaction(spark, tmp_path):
    """The composed ingest sink heals its output tree before writing,
    like the gate sink: every input document keeps its decision row."""
    import os

    from token_etl_spark.operators.curation import fit_and_save_domain_stats
    from token_etl_spark.streaming.curation import _ingest_sink_batch
    from token_etl_spark.streaming.dedup import _read_partitioned_state

    docs = spark.createDataFrame(
        [
            (i, f"<p>ordinary crawl prose number {i}</p>", f"https://good.com/{i}")
            for i in (0, 1, 2, 3, 7)
        ],
        "doc_id long, text string, url string",
    )
    stats_path = str(tmp_path / "rep")
    fit_and_save_domain_stats(spark, docs, stats_path)
    out = str(tmp_path / "ingest_out")
    _ingest_sink_batch(docs.where("doc_id < 2"), "i-0", stats_path, out)
    _ingest_sink_batch(docs.where("doc_id in (2, 3)"), "i-1", stats_path, out)
    staging = _cut_compaction(spark, out)

    _ingest_sink_batch(docs.where("doc_id = 7"), "i-2", stats_path, out)
    ids = sorted(r["doc_id"] for r in _read_partitioned_state(spark, out).collect())
    assert ids == [0, 1, 2, 3, 7]  # batch 7's decision row kept
    assert not os.path.exists(staging)


def test_streaming_repetition_filter_matches_batch(spark, tmp_path):
    """The repetition gate's streaming twin: the map-only inline form
    reaches the explode-form batch gate's exact keep/reject decisions
    over a real file stream in append mode (no state, no watermark)."""
    from token_etl_spark.operators.text import (
        gopher_repetition_filter,
        gopher_repetition_filter_inline,
    )

    rows = [
        (1, "the spam line is here today ok\n" * 20),
        (
            2,
            "the quick brown fox jumps over a lazy dog while seven "
            "other animals watch quietly from the distant hillside "
            "and a gentle evening breeze carries birdsong across the "
            "meadow toward an old stone bridge where children count "
            "fireflies beside the slow river under a clear autumn sky",
        ),
        (3, "para A words\r\n\r\npara B words\r\n\r\npara A words" * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    staged = str(tmp_path / "rep_stream")
    docs.write.parquet(staged)
    stream = read_file_stream(spark, staged, docs.schema)
    run_to_memory(
        gopher_repetition_filter_inline(stream), "rep_out", output_mode="append"
    )
    got = {
        r["doc_id"]: (r["keep"], r["reject_reasons"])
        for r in spark.sql("SELECT doc_id, keep, reject_reasons FROM rep_out").collect()
    }
    exp = {
        r["doc_id"]: (r["keep"], r["reject_reasons"])
        for r in gopher_repetition_filter(docs).collect()
    }
    assert got == exp and len(got) == 3
    assert not got[1][0] and got[2][0]
