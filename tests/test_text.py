from __future__ import annotations

from pyspark.sql import functions as F

from token_etl_spark.operators.text import fingerprint, language_id, quality_stats, tokens


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])


def test_tokenizer(spark):
    df = _df(spark, ["Hello, World!  42", "", "...!!!"])
    out = [r["t"] for r in df.select(tokens("text").alias("t")).collect()]
    assert out[0] == ["hello", "world", "42"]
    assert out[1] == []
    assert out[2] == []


def test_token_count(spark):
    from token_etl_spark.operators.text import token_count

    df = _df(spark, ["one two three", ""])
    got = [r["n"] for r in df.select(token_count("text").alias("n")).collect()]
    assert got == [3, 0]


def test_quality_stats(spark):
    df = _df(spark, ["the cat and the hat"])
    row = quality_stats(df).collect()[0]
    assert row["n_tokens"] == 5
    assert row["char_len"] == 19
    assert abs(row["mean_token_len"] - 15 / 5) < 1e-9
    # distinct tokens: the, cat, and, hat → stopwords: the, and → 2/4
    assert abs(row["stopword_ratio_en"] - 0.5) < 1e-9


def test_language_id(spark):
    df = _df(spark, [
        "the cat is in the hat and it is good",
        "der hund ist nicht ein katze und die maus",
        "xyzzy qwerty asdf",
    ])
    rows = language_id(df).orderBy("doc_id").collect()
    assert rows[0]["lang_pred"] == "en"
    assert rows[1]["lang_pred"] == "de"
    assert rows[2]["lang_pred"] == "und"


def test_fingerprint_set_invariant_to_order_and_dups(spark):
    df = _df(spark, ["alpha beta gamma", "gamma beta alpha alpha"])
    rows = fingerprint(df).collect()
    assert rows[0]["fp_set"] == rows[1]["fp_set"]       # same token set
    assert rows[0]["fp_rolling"] != rows[1]["fp_rolling"]  # order-sensitive


def test_line_dedup_keep_first_order_preserving(spark):
    from token_etl_spark.operators.text import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha\ngamma\nbeta"),  # dups at 3rd and 5th
            (2, "Alpha\n  alpha  \nALPHA"),  # case/whitespace-insensitive
            (3, "unique one\nunique two"),  # nothing to drop
            (4, ""),  # empty doc
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert got[1]["deduped"] == "alpha\nbeta\ngamma"
    assert (got[1]["n_lines"], got[1]["n_unique"]) == (5, 3)
    # first occurrence's ORIGINAL text survives, not the normal form
    assert got[2]["deduped"] == "Alpha"
    assert got[2]["n_unique"] == 1
    assert got[3]["deduped"] == "unique one\nunique two"
    assert got[4]["deduped"] == ""


def test_crossdoc_line_dedup_first_occurrence_wins(spark):
    """A line survives only at its first (doc_id, idx) occurrence
    corpus-wide: later docs lose it, and so do later occurrences inside
    the SAME doc. Untouched docs keep every line."""
    import hashlib

    from token_etl_spark.operators.text import crossdoc_line_dedup

    rows = [
        (1, "shared boiler\nunique one"),
        (2, "unique two\nshared boiler"),          # loses 'shared boiler' to doc 1
        (3, "Shared Boiler\nunique three"),        # normalized match, loses too
        (4, "repeat me\nrepeat me\nunique four"),  # same-doc repeat removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in crossdoc_line_dedup(df).collect()}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (got[1].n_lines, got[1].n_kept) == (2, 2)
    assert got[1].dedup_fp == md5("shared boiler\nunique one")
    assert (got[2].n_lines, got[2].n_kept) == (2, 1)
    assert got[2].dedup_fp == md5("unique two")
    assert (got[3].n_lines, got[3].n_kept) == (2, 1)
    assert got[3].dedup_fp == md5("unique three")
    assert (got[4].n_lines, got[4].n_kept) == (3, 2)
    assert got[4].dedup_fp == md5("repeat me\nunique four")


def test_lexical_diversity_hand_computed(spark):
    """TTR / hapax / top-share on a corpus small enough to count by
    hand: tokens = [a a a b c] -> 5 tokens, 3 types, 2 hapax, top 3/5."""
    from token_etl_spark.operators.text import lexical_diversity

    df = spark.createDataFrame(
        [("s", "a a a"), ("s", "b c"), ("t", "x y")],
        "source string, text string",
    )
    out = {r["source"]: r for r in lexical_diversity(df).collect()}
    s = out["s"]
    assert (s["n_tokens"], s["n_distinct"], s["n_hapax"]) == (5, 3, 2)
    assert s["type_token_ratio"] == 3 / 5
    assert s["hapax_ratio"] == 2 / 3
    assert s["top_share"] == 3 / 5
    t_ = out["t"]
    assert (t_["n_tokens"], t_["n_distinct"], t_["n_hapax"]) == (2, 2, 2)
    assert t_["top_share"] == 0.5


# --- winnowing fingerprints (Schleimer 2003) --------------------------------


def _py_winnow(words, k, w):
    """Pure-Python winnowing reference: md5-prefix shingle hashes,
    per-window min, ties to the rightmost position."""
    import hashlib

    if len(words) < k:
        return set()
    grams = []
    for i in range(1, len(words) - k + 2):
        g = " ".join(words[i - 1 : i - 1 + k])
        h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
        grams.append((h, -i, i))
    sel = set()
    n_win = max(len(grams) - w + 1, 1)
    for j in range(n_win):
        h, np_, p = min(grams[j : j + w])
        sel.add((p, h))
    return sel


def test_winnow_matches_python_reference(spark, sf_dir):
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.text import tokens, winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").limit(60)
    toks = {
        r["doc_id"]: r["tk"]
        for r in docs.select("doc_id", tokens("text").alias("tk")).collect()
    }
    exp = {
        (d, p, h) for d, tk in toks.items() for (p, h) in _py_winnow(tk, 3, 4)
    }
    got = {
        (r["id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(docs, k=3, window=4).collect()
    }
    assert got == exp and got


def test_winnow_local_containment_guarantee(spark):
    """The paper's guarantee: any shared token run of length >= w + k - 1
    yields at least one shared selected fingerprint, at matching offsets
    into the shared run."""
    from token_etl_spark.operators.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    a = "x1 x2 " + shared + " y1"
    b = "z9 " + shared + " q7 q8"
    frame = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    rows = winnow_fingerprints(frame, k=3, window=4).collect()
    fps = {1: set(), 2: set()}
    for r in rows:
        fps[r["id"]].add(r["fp"])
    assert fps[1] & fps[2]


def test_winnow_short_and_degenerate_docs(spark):
    """Docs under k tokens emit nothing; docs with fewer shingles than
    the window emit their single global minimum."""
    from token_etl_spark.operators.text import winnow_fingerprints

    frame = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, "")], ["doc_id", "text"]
    )
    rows = winnow_fingerprints(frame, k=3, window=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append((r["pos"], r["fp"]))
    assert 1 not in by_doc and 3 not in by_doc
    assert len(by_doc[2]) == 1 and by_doc[2][0][0] == 1


def test_winnow_plan_is_narrow(spark, sf_dir):
    """The whole selection is one projection chain: no Exchange, no Join
    in the physical plan."""
    import contextlib
    import io

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        winnow_fingerprints(docs).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_winnow_overlap_detects_localized_copying(spark):
    """A quoted passage shared between two otherwise-different documents
    surfaces as an overlap pair; unrelated docs do not pair."""
    from token_etl_spark.operators.text import winnow_overlap_pairs

    quote = "the quick brown fox jumps over the lazy dog again and again"
    a = "intro words here " + quote + " closing remarks"
    b = "totally different opening " + quote + " different ending too"
    c = "nothing in common with either document at all whatsoever truly"
    frame = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["overlap"]
        for r in winnow_overlap_pairs(frame, threshold=0.15).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.3
    assert all(3 not in p for p in pairs)


def test_winnow_overlap_max_fp_df_guard(spark):
    """A corpus-wide boilerplate fingerprint trips the in-plan cap."""
    import pytest
    from token_etl_spark.operators.text import winnow_overlap_pairs

    boiler = "standard footer text repeated on every single page here"
    frame = spark.createDataFrame(
        [(i, f"doc number {i} body content " + boiler) for i in range(20)],
        ["doc_id", "text"],
    )
    with pytest.raises(Exception, match="winnow-overlap fingerprint"):
        winnow_overlap_pairs(frame, max_fp_df=5).collect()
    # and with a sufficient cap it runs
    assert winnow_overlap_pairs(frame, max_fp_df=64).count() > 0


def _py_cdc(text, window=8, mask_bits=5, prime=31):
    import hashlib

    n = len(text)
    codes = [ord(c) for c in text]
    powers = [prime**j for j in range(window)]
    cuts = [
        i
        for i in range(window, n + 1)
        if i < n
        and sum(codes[i - 1 - j] * powers[j] for j in range(window))
        % (1 << mask_bits)
        == 0
    ]
    cuts2 = [0] + cuts + [n]
    return [
        (k - 1, cuts2[k] - cuts2[k - 1],
         hashlib.md5(text[cuts2[k - 1]:cuts2[k]].encode()).hexdigest())
        for k in range(1, len(cuts2))
    ]


def test_cdc_chunks_matches_python_reference(spark):
    from token_etl_spark.operators.text import cdc_chunks

    texts = [
        "the quick brown fox jumps over the lazy dog " * 5,
        "short",
        "",
        "abcdefgh",  # exactly window chars
        "x" * 100,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {}
    for r in cdc_chunks(docs).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_len, r.chunk_hash))
    for i, t in enumerate(texts):
        assert sorted(got[i]) == sorted(_py_cdc(t)), f"doc {i}"


def test_cdc_chunks_reconstruction_and_resync(spark):
    """Chunk lengths partition the document, and a mid-document insert
    preserves most chunk hashes — the content-defined property fixed
    windows lack."""
    from collections import Counter

    from token_etl_spark.operators.text import cdc_chunks

    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = base[:180] + "INSERTED TEXT " + base[180:]
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    rows = cdc_chunks(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sum(r.chunk_len for r in by_doc[1]) == len(base)
    assert sum(r.chunk_len for r in by_doc[2]) == len(edited)
    h1 = Counter(r.chunk_hash for r in by_doc[1])
    h2 = Counter(r.chunk_hash for r in by_doc[2])
    shared = sum((h1 & h2).values())
    # the edit can only disturb the chunk containing it plus O(1)
    # neighbors; everything else must re-synchronize
    assert shared >= len(by_doc[1]) - 3


# --- HTML boilerplate extraction ---------------------------------------------


_HTML_PAGE = """<html><head><title>T</title>
<style>body { color: red; }</style>
<script type="text/javascript">var nav = "<div>not real</div>";</script>
</head><body>
<!-- header boilerplate -->
<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
<div>
<p>This is the first real paragraph of the article, long enough to keep
and mostly letters so every gate passes without any trouble at all.</p>
<p>Short.</p>
<p>A second real paragraph follows here with plenty of ordinary prose text,
including an inline <a href="/ref">reference link</a> that should not
trip the link-density gate because the block is mostly plain text.</p>
<div>%%% ### !!! *** ((( ))) ^^^ ~~~ %%% ### !!! *** ((( ))) ^^^ $$$</div>
<p>Ampersand &amp; angle &lt;brackets&gt; and a &quot;quote&quot; decode fine,
which keeps this block over the minimum length threshold comfortably.</p>
</div>
<footer><a href="/tos">Terms</a> | <a href="/priv">Privacy</a> | <a href="/x">X</a></footer>
</body></html>"""


def test_extract_html_text_keeps_content_drops_boilerplate(spark):
    from token_etl_spark.operators.text import extract_html_text

    df = spark.createDataFrame([(1, _HTML_PAGE)], ["doc_id", "text"])
    row = extract_html_text(df).collect()[0]
    out = row["extracted"]
    assert "first real paragraph" in out
    assert "second real paragraph" in out
    assert "reference link" in out  # inline anchor text survives inside prose
    assert 'Ampersand & angle <brackets> and a "quote" decode fine' in out
    # boilerplate is gone
    assert "Home" not in out and "Privacy" not in out  # link farms
    assert "color: red" not in out  # style body
    assert "not real" not in out  # script body incl. embedded tags
    assert "header boilerplate" not in out  # comment
    assert "Short." not in out  # below min_chars
    assert "%%%" not in out  # symbol soup fails alpha ratio
    assert row["n_kept_blocks"] == 3
    assert row["n_blocks"] > row["n_kept_blocks"]
    assert row["extracted_chars"] == len(out)


def test_extract_html_text_plain_text_and_null_degrade(spark):
    from token_etl_spark.operators.text import extract_html_text

    long_plain = "Just ordinary prose with no markup at all, " * 3
    df = spark.createDataFrame(
        [(1, long_plain), (2, "tiny"), (3, None)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in extract_html_text(df).collect()}
    assert rows[1]["extracted"].startswith("Just ordinary prose")
    assert rows[1]["n_kept_blocks"] == 1
    assert rows[2]["extracted"] == "" and rows[2]["n_kept_blocks"] == 0
    assert rows[3]["extracted"] is None  # NULL in, NULL out — never a crash


def test_extract_html_text_link_density_gate(spark):
    """A long block that is mostly anchor text dies on link density even
    though it passes length and alpha gates."""
    from token_etl_spark.operators.text import extract_html_text

    farm = (
        "<p>"
        + " ".join(f'<a href="/l{i}">quite long category link {i}</a>' for i in range(12))
        + "</p><p>"
        + "This paragraph has the same length scale but almost no anchors, "
        + "so the density gate keeps it around happily. "
        + '<a href="/one">one link</a></p>'
    )
    df = spark.createDataFrame([(1, farm)], ["doc_id", "text"])
    row = extract_html_text(df).collect()[0]
    assert "density gate keeps it" in row["extracted"]
    assert "category link 3" not in row["extracted"]
    assert row["n_kept_blocks"] == 1


def test_extract_html_text_is_single_projection(spark):
    """No explode, no shuffle — the whole extraction is one codegen'd
    map over the documents scan."""
    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.text import extract_html_text

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = extract_html_text(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan


def test_extract_html_text_review_counterexamples(spark):
    """Pinned review-found bugs (r11): (a) tags that merely EXTEND a
    guarded name (<abbr> vs <a>, <picture>/<pre> vs <p>) must be neither
    anchors nor block boundaries; (b) non-Latin scripts must pass the
    alpha gate."""
    from token_etl_spark.operators.text import extract_html_text

    abbr = (
        "<p>The <abbr title=\"HyperText Markup Language\">HTML</abbr> standard "
        "is a long and detailed specification that every crawler has to cope "
        "with in practice; see the <a href=\"/spec\">spec</a>.</p>"
    )
    pict = (
        "<p>Short intro <picture>x</picture> and a short tail that only "
        "passes the length gate if the picture tag did not split it.</p>"
    )
    pre = (
        "<p>Prose before <pre>should not split</pre> prose after, all one "
        "block and comfortably long enough to keep around here.</p>"
    )
    ru = (
        "<p>Это обычный русский текст достаточной длины, который обязан "
        "пройти буквенный фильтр без малейших затруднений сегодня.</p>"
    )
    df = spark.createDataFrame(
        [(1, abbr), (2, pict), (3, pre), (4, ru)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in extract_html_text(df).collect()}
    assert "standard" in rows[1]["extracted"] and "spec" in rows[1]["extracted"]
    assert rows[1]["n_kept_blocks"] == 1  # <abbr> did not swallow the prose
    assert rows[2]["n_kept_blocks"] == 1 and "short tail" in rows[2]["extracted"]
    assert rows[3]["n_kept_blocks"] == 1 and "should not split" in rows[3]["extracted"]
    assert rows[4]["n_kept_blocks"] == 1 and "русский" in rows[4]["extracted"]


# --- Gopher repetition suite (dup lines/paras, top n-gram coverage) ----------


def test_repetition_signals_hand_computed(spark):
    from token_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            # 3 lines, one duplicated once: dup_line_frac = 1/3; every
            # line is 5 chars so dup_line_char_frac = 5/15
            (1, "a b c\na b c\nd e f"),
            # 3 paragraphs (blank-line separated), one duplicated once
            (2, "p q\n\np q\n\nr s"),
            # tokens [x y x y x y]: top 2-gram 'x y' x3 covers 3*2=6 of
            # 6 token chars -> 1.0; top 3-gram 'x y x' x2 -> 2*3/6 = 1.0
            (3, "x y x y x y"),
            (4, ""),  # no lines/tokens: all zeros, never NULL/NaN
            (5, "all tokens here are unique words today"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert abs(got[1]["dup_line_frac"] - 1 / 3) < 1e-12
    assert abs(got[1]["dup_line_char_frac"] - 1 / 3) < 1e-12
    assert got[1]["dup_para_frac"] == 0.0  # no blank lines -> one para
    assert abs(got[2]["dup_para_frac"] - 1 / 3) < 1e-12
    assert abs(got[2]["dup_para_char_frac"] - 3 / 9) < 1e-12
    assert got[3]["top_2gram_char_frac"] == 1.0
    assert got[3]["top_3gram_char_frac"] == 1.0
    for c in (
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "top_2gram_char_frac",
        "top_3gram_char_frac", "top_4gram_char_frac",
    ):
        assert got[4][c] == 0.0, c
    # unique-token doc: every 2-gram occurs once -> top covers its own
    # chars only, well under the gate thresholds
    assert 0 < got[5]["top_2gram_char_frac"] < 0.30
    assert got[5]["dup_line_frac"] == 0.0


def test_repetition_signals_tie_breaks_to_smallest_gram(spark):
    """'b a b a' has 'b a' x2... construct an exact tie: 'a b a c a b
    a c' gives 'a b' x2 and 'a c' x2 — the reported coverage must use
    the lexicographically smallest gram deterministically."""
    from token_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame([(1, "a b a c a b a c")], ["doc_id", "text"])
    r = repetition_signals(df).collect()[0]
    # both top 2-grams cover 2 occurrences x 2 chars = 4 of 8 token chars
    assert abs(r["top_2gram_char_frac"] - 0.5) < 1e-12
    again = repetition_signals(df).collect()[0]
    assert r["top_2gram_char_frac"] == again["top_2gram_char_frac"]


def test_gopher_repetition_filter_gates(spark):
    from token_etl_spark.operators.text import gopher_repetition_filter

    clean = (
        "the quick brown fox jumps over a lazy dog while seven other "
        "animals watch quietly from the distant hillside this evening"
    )
    df = spark.createDataFrame(
        [
            (1, clean),
            (2, "spam line\n" * 20),            # dup lines + top-gram blowout
            (3, "buy now " * 30),                # degenerate n-gram repetition
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in gopher_repetition_filter(df).collect()}
    assert got[1]["keep"] and got[1]["reject_reasons"] == ""
    assert not got[2]["keep"]
    reasons2 = got[2]["reject_reasons"].split("|")
    assert "dup_line_frac" in reasons2
    # reasons appear in the fixed GOPHER_REPETITION_RULES order
    from token_etl_spark.operators.text import GOPHER_REPETITION_RULES

    order = [c for c, _ in GOPHER_REPETITION_RULES]
    assert reasons2 == sorted(reasons2, key=order.index)
    assert not got[3]["keep"]
    assert "top_2gram_char_frac" in got[3]["reject_reasons"]


def test_repetition_signals_crlf_and_null_id(spark):
    """CRLF documents split correctly (review-found r11): the dup-para
    signal sees \\r\\n\\r\\n separators and blank '\\r' lines never count
    as units; a NULL doc_id fails loudly instead of skipping the gate."""
    import pytest

    from token_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "para A words\r\n\r\npara B words\r\n\r\npara A words")],
        ["doc_id", "text"],
    )
    r = repetition_signals(df).collect()[0]
    assert abs(r["dup_para_frac"] - 1 / 3) < 1e-12   # the CRLF dup IS seen
    assert r["dup_line_frac"] == r["dup_para_frac"]  # no phantom '\r' lines
    bad = spark.createDataFrame([(None, "spam line\n" * 50)], "doc_id long, text string")
    with pytest.raises(Exception, match="NULL doc_id"):
        repetition_signals(bad).collect()


def test_gopher_gates_compose_without_losing_rejections(spark):
    """gopher_filter → gopher_repetition_filter (either order) must keep
    BOTH gates' decisions (review-found r11: the second gate used to
    overwrite reject_reasons/keep)."""
    from token_etl_spark.operators.text import (
        gopher_filter,
        gopher_repetition_filter,
    )

    df = spark.createDataFrame(
        [
            # fails gopher_filter (too few words), clean on repetition
            (1, "short text the"),
            # passes gopher_filter, fails repetition (dup lines)
            (2, "the spam line is here today ok\n" * 20),
            # clean on both — long enough that top-n-gram coverage
            # (~n/L for unique-ish text) sits under the bounds; the
            # thresholds presume web-document lengths, which is why the
            # composition includes gopher_filter's min_words rule
            (
                3,
                "the quick brown fox jumps over a lazy dog while seven "
                "other animals watch quietly from the distant hillside "
                "and a gentle evening breeze carries birdsong across the "
                "meadow toward an old stone bridge where children count "
                "fireflies beside the slow river under a clear autumn sky",
            ),
        ],
        ["doc_id", "text"],
    )
    both = gopher_repetition_filter(gopher_filter(df))
    got = {r["doc_id"]: r for r in both.collect()}
    assert not got[1]["keep"] and "too_few_words" in got[1]["reject_reasons"]
    assert not got[2]["keep"] and "dup_line_frac" in got[2]["reject_reasons"]
    assert got[3]["keep"] and got[3]["reject_reasons"] == ""


def test_gopher_repetition_filter_reapplication(spark):
    """Re-applying the repetition gate to its own output must not blow
    up on ambiguous signal columns (ADVICE r11): stale signal copies
    drop and recompute, and the gate decision is idempotent."""
    from token_etl_spark.operators.text import gopher_repetition_filter

    df = spark.createDataFrame(
        [
            (1, "the spam line is here today ok\n" * 20),
            (
                2,
                "the quick brown fox jumps over a lazy dog while seven "
                "other animals watch quietly from the distant hillside "
                "and a gentle evening breeze carries birdsong across the "
                "meadow toward an old stone bridge where children count "
                "fireflies beside the slow river under a clear autumn sky",
            ),
        ],
        ["doc_id", "text"],
    )
    once = gopher_repetition_filter(df)
    twice = gopher_repetition_filter(once)
    assert sorted(once.columns) == sorted(twice.columns)
    g1 = {r["doc_id"]: (r["keep"], r["reject_reasons"]) for r in once.collect()}
    g2 = {r["doc_id"]: (r["keep"], r["reject_reasons"]) for r in twice.collect()}
    assert g1[2] == g2[2] == (True, "")
    assert not g2[1][0]
    # the re-application merges the prior rejection with the recomputed
    # one — reasons accumulate but keep stays False
    assert "dup_line_frac" in g2[1][1]


def test_repetition_signals_inline_equals_explode_form(spark):
    """The map-only inline twin must reproduce the explode form's seven
    signals exactly — including the lexicographically-smallest tie-break
    on top grams, CRLF splits, blank-unit filtering, empty docs, and
    NULL text (which the batch form zero-fills)."""
    from token_etl_spark.operators.text import (
        repetition_signals,
        repetition_signals_inline,
    )

    rows = [
        (1, "a b c\na b c\nd e f"),
        (2, "p q\n\np q\n\nr s"),
        (3, "x y x y x y"),
        (4, ""),
        (5, "a b a c a b a c"),           # exact top-2-gram tie
        (6, "para A words\r\n\r\npara B words\r\n\r\npara A words"),
        (7, "the unique tokens appear once only here today"),
        (8, "dup line\n \x0b \ndup line"),  # \s-dialect blank filtering
        (9, None),                           # NULL text → zeros
        (10, "tok tok tok tok tok"),         # single repeated token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = [
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac",
    ]
    batch = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in repetition_signals(df).collect()
    }
    inline = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in repetition_signals_inline(df).select("doc_id", *cols).collect()
    }
    assert set(batch) == set(inline)
    for did in sorted(batch):
        assert batch[did] == inline[did], (did, batch[did], inline[did])


def test_gopher_repetition_filter_inline_gate_equivalence(spark):
    """The inline gate reaches the same keep/reject_reasons decisions
    as the explode-form gate, merges prior gate columns identically,
    and its plan is a pure projection (no Exchange)."""
    from token_etl_spark.operators.text import (
        gopher_filter,
        gopher_repetition_filter,
        gopher_repetition_filter_inline,
    )

    df = spark.createDataFrame(
        [
            (1, "the spam line is here today ok\n" * 20),
            (
                2,
                "the quick brown fox jumps over a lazy dog while seven "
                "other animals watch quietly from the distant hillside "
                "and a gentle evening breeze carries birdsong across the "
                "meadow toward an old stone bridge where children count "
                "fireflies beside the slow river under a clear autumn sky",
            ),
            (3, "short text the"),
        ],
        ["doc_id", "text"],
    )
    a = {
        r["doc_id"]: (r["keep"], r["reject_reasons"])
        for r in gopher_repetition_filter(df).collect()
    }
    b = {
        r["doc_id"]: (r["keep"], r["reject_reasons"])
        for r in gopher_repetition_filter_inline(df).collect()
    }
    assert a == b
    # composition with gopher_filter merges identically in the inline form
    both = {
        r["doc_id"]: (r["keep"], r["reject_reasons"])
        for r in gopher_repetition_filter_inline(gopher_filter(df)).collect()
    }
    exp = {
        r["doc_id"]: (r["keep"], r["reject_reasons"])
        for r in gopher_repetition_filter(gopher_filter(df)).collect()
    }
    assert both == exp
    # map-only: zero Exchanges in the inline gate's plan
    plan = (
        gopher_repetition_filter_inline(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
