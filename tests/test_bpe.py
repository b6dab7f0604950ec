"""BPE vocabulary induction (operators/bpe.py): merge tables pinned
against a pure-Python reference (Sennrich-style, overlapping pair
counts, greedy non-overlapping rewrite, count-then-lexicographic
argmax), and encode/train consistency."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from token_etl_spark.io.sources import load_table
from token_etl_spark.operators.bpe import bpe_encode, bpe_train, merge_fold
from token_etl_spark.operators.text import tokens


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += word_counts[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        merges.append((l, r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def _word_counts(spark, docs):
    rows = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w").count().collect()
    )
    return {r["w"]: r["count"] for r in rows}


def test_bpe_train_matches_python_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wc = _word_counts(spark, docs)
    exp, _ = _py_bpe(wc, 8)
    got = [
        (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(docs, n_merges=8).orderBy("merge_idx").collect()
    ]
    assert got == exp


def test_bpe_encode_matches_python_segmentation(spark):
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low newer new"), (2, "wider wide new newer")],
        "doc_id long, text string",
    )
    wc = _word_counts(spark, docs)
    merges = bpe_train(docs, n_merges=6)
    _, py_vocab = _py_bpe(wc, 6)
    got = {
        r["word"]: r["pieces"]
        for r in bpe_encode(docs, merges).dropDuplicates(["word"]).collect()
    }
    assert got == {w: py_vocab[w] for w in got}


def test_merge_fold_greedy_nonoverlapping(spark):
    """[a,a,a] under (a,a) -> [aa,a]; merged symbol never re-fuses in
    the same pass; non-matching symbols pass through untouched."""
    df = spark.createDataFrame([(["a", "a", "a", "b", "a", "a"],)], "syms array<string>")
    out = df.select(
        merge_fold(F.col("syms"), F.lit("a"), F.lit("a")).alias("m")
    ).collect()[0]["m"]
    assert out == ["aa", "a", "b", "aa"]


def test_bpe_train_stops_at_natural_merge_count(spark):
    """n_merges beyond the available adjacent pairs: the loop stops when
    the pair frame is empty instead of letting an empty 'best' cross-join
    the vocabulary away — the merge table truncates to the corpus's
    natural merge count, with every emitted row intact."""
    docs = spark.createDataFrame([("ab ab",)], ["text"])
    merges = bpe_train(docs, n_merges=10)
    rows = merges.orderBy("merge_idx").collect()
    # 'ab' admits exactly one merge: a+b
    assert [(r["left_sym"], r["right_sym"]) for r in rows] == [("a", "b")]
    # encoding with the truncated table still works end-to-end
    enc = bpe_encode(docs.withColumn("doc_id", F.lit(1)), merges).collect()
    assert all(r["pieces"] == ["ab"] for r in enc)


def test_bpe_train_no_pairs_returns_empty_table(spark):
    """A corpus of single-character words has zero adjacent pairs: the
    merge table is empty (correct schema), not an error."""
    docs = spark.createDataFrame([("a b c",)], ["text"])
    merges = bpe_train(docs, n_merges=4)
    assert merges.count() == 0
    assert merges.columns == ["merge_idx", "left_sym", "right_sym", "pair_count"]


def test_bpe_encode_table_equals_compiled_chain(spark, sf_dir):
    """The vocabulary-table rank-greedy encode (the realistic-scale
    path) is row-identical to the compiled merge_fold chain on the real
    corpus — the equivalence that licenses swapping paths at large
    n_merges."""
    from token_etl_spark.operators.bpe import bpe_encode_table

    docs = load_table(spark, sf_dir, "documents").limit(80)
    merges = bpe_train(docs, n_merges=16)
    exp = {
        (r["id"], r["word"], tuple(r["pieces"]))
        for r in bpe_encode(docs, merges).collect()
    }
    got = {
        (r["id"], r["word"], tuple(r["pieces"]))
        for r in bpe_encode_table(docs, merges).collect()
    }
    assert got == exp and got


def test_bpe_encode_table_handles_unknown_words(spark):
    """Words containing symbols never seen in training segment to
    characters wherever no merge applies — same as the compiled chain."""
    from token_etl_spark.operators.bpe import bpe_encode_table

    train = spark.createDataFrame([("ab ab ab",)], ["text"])
    merges = bpe_train(train, n_merges=4)
    apply_to = spark.createDataFrame([(1, "xyz ab xab")], ["doc_id", "text"])
    got = {
        (r["word"], tuple(r["pieces"]))
        for r in bpe_encode_table(apply_to, merges).collect()
    }
    exp = {
        (r["word"], tuple(r["pieces"]))
        for r in bpe_encode(apply_to, merges).collect()
    }
    assert got == exp
    assert ("xyz", ("x", "y", "z")) in got
    assert ("xab", ("x", "ab")) in got


def test_bpe_oracles_guard_merge_exhaustion(spark):
    """r6 ADVICE: the unrolled SQL oracles must not empty themselves when
    the corpus exhausts its natural merges below BPE_N_MERGES — b{i} goes
    empty and w{i} must fall through unchanged (LEFT JOIN + CASE), the
    exact twin of bpe_train's early break. Engine and oracle are compared
    on a corpus with exactly ONE natural merge under n_merges=6."""
    import duckdb

    from token_etl_spark.operators.bpe import bpe_encode_table
    from token_etl_spark.plans.quality import _bpe_encode_sql, _bpe_sql

    rows = [(1, "ab ab ab"), (2, "ab ab"), (3, "ab")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_train(docs, n_merges=6)
    got_merges = [
        (r["merge_idx"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in merges.orderBy("merge_idx").collect()
    ]
    got_enc = sorted(
        (r["id"], r["word"], "|".join(r["pieces"]))
        for r in bpe_encode_table(docs, merges).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (1, 'ab ab ab'),"
        " (2, 'ab ab'), (3, 'ab')) t(doc_id, text)"
    )
    exp_merges = [
        (int(a), b, c, int(d)) for a, b, c, d in con.execute(_bpe_sql(6)).fetchall()
    ]
    assert got_merges == exp_merges == [(1, "a", "b", 6)]
    exp_enc = sorted(
        (int(i), w, p) for i, w, p in con.execute(_bpe_encode_sql(6)).fetchall()
    )
    assert got_enc == exp_enc and len(got_enc) == 6
