"""Property-based tests (hypothesis) for the determinism-critical kernels."""

from __future__ import annotations

import os
import struct

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from token_etl_spark.functions.timeops import HOUR, bucket

# Spark jobs per example are expensive — keep example counts small but
# meaningful; shrinking still works.
FAST = settings(max_examples=8, deadline=None)

_spark = None


def _get(sparksession):
    global _spark
    _spark = sparksession
    return _spark


@given(
    ts=st.lists(st.integers(min_value=0, max_value=10**10), min_size=1, max_size=30)
)
@FAST
def test_bucket_idempotent_and_bounded(spark, ts):
    df = _get(spark).createDataFrame([(x,) for x in ts], ["ts"])
    rows = df.select(
        F.col("ts"), bucket(F.col("ts"), HOUR).alias("b")
    ).collect()
    for r in rows:
        assert r["b"] % HOUR == 0
        assert r["b"] <= r["ts"] < r["b"] + HOUR


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from([0, 1]),
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=1,
        max_size=25,
    )
)
@FAST
def test_forward_fill_equals_crossjoin_reference(spark, data):
    # the wallet pipeline's densified changelogs (window fill) ≡ the
    # reference form: per token, every wallet × every hour (crossJoin +
    # left-outer), each cell the latest running balance at-or-before the
    # hour, nothing before a wallet's first hour. Integer values keep
    # every sum exact, so the whale line compares exactly too.
    from token_etl_spark import fixtures
    from token_etl_spark.pipelines.wallets import wallet_balance_changelogs

    s = _get(spark)
    tokens = fixtures.TOKENS[:2]
    rows = [
        (tokens[t][0], f"wallets/{f}", f"wallets/{to}", float(v), str(h * 3600))
        for t, f, to, h, v in data
    ]
    df = s.createDataFrame(
        rows,
        "contract_address string, _from string, _to string, value double, "
        "transact_at string",
    )
    out = wallet_balance_changelogs(
        df, fixtures.token_metadata_df(s), densify=True
    )
    got = {
        r["_key"]: {ts: (e["isWhale"], e["balance"]) for ts, e in r["balanceChangeLogs"].items()}
        for r in out.collect()
    }

    whale_min = {tok: thr * supply for tok, _, thr, supply in tokens}
    net = {}
    for tok, f, to, v, ts in rows:
        h = int(ts)
        net[(tok, f, h)] = net.get((tok, f, h), 0.0) - v
        net[(tok, to, h)] = net.get((tok, to, h), 0.0) + v
    exp = {}
    for tok in {r[0] for r in rows}:
        hours = sorted({h for (t, _, h) in net if t == tok})
        wallets = sorted({w for (t, w, _) in net if t == tok})
        for w in wallets:
            balance, cells = None, {}
            for h in hours:
                if (tok, w, h) in net:
                    balance = (balance or 0.0) + net[(tok, w, h)]
                if balance is not None:
                    cells[h] = (balance >= whale_min[tok], balance)
            exp[f"{tok}_{w.split('/')[1]}"] = cells
    assert got == exp


@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5), st.floats(min_value=-10, max_value=10, allow_nan=False)),
        min_size=1,
        max_size=20,
    )
)
@FAST
def test_collapse_map_keys_are_distinct_ts(spark, vals):
    from token_etl_spark.functions.timeops import changelog

    s = _get(spark)
    df = s.createDataFrame(vals, "ts long, v double")
    m = df.select(changelog("ts", "v", "m")).collect()[0]["m"]
    assert set(m) == {ts for ts, _ in vals}


@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5000)), min_size=1, max_size=15
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5000)), min_size=1, max_size=15
    ),
    bounds=st.tuples(st.integers(-600, 600), st.integers(0, 1200)),
)
@FAST
def test_range_join_equals_theta_join(spark, lrows, rrows, bounds):
    """The banded range join equals the naive theta join for arbitrary
    key/timestamp layouts and window bounds (including negative lower)."""
    import datetime as dt

    from token_etl_spark.operators.asof import range_join

    lower, width = bounds
    upper = lower + width
    base = dt.datetime(2024, 1, 1)
    l = _get(spark).createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lrows)],
        "lid long, k long, lts timestamp",
    )
    r = _get(spark).createDataFrame(
        [(j, k, base + dt.timedelta(seconds=s)) for j, (k, s) in enumerate(rrows)],
        "rid long, k long, rts timestamp",
    )
    got = {
        (x.lid, x.rid)
        for x in range_join(l, r, ["k"], "lts", "rts", lower, upper).collect()
    }
    exp = {
        (x.lid, x.rid)
        for x in l.join(r, "k")
        .filter(
            F.unix_timestamp("rts").between(
                F.unix_timestamp("lts") + lower, F.unix_timestamp("lts") + upper
            )
        )
        .collect()
    }
    assert got == exp


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=1, max_size=10
    )
)
@FAST
def test_repetition_stats_invariants(spark, texts):
    """TTR and top-token share are both in (0, 1]; share >= 1/n_distinct;
    zero-token docs are absent."""
    from token_etl_spark.operators.text import repetition_stats

    df = _get(spark).createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = repetition_stats(df).collect()
    for r in rows:
        assert 0.0 < r.type_token_ratio <= 1.0
        assert 0.0 < r.top_token_share <= 1.0


@given(
    lines=st.lists(
        st.text(alphabet="abc X", min_size=0, max_size=6), min_size=1, max_size=12
    )
)
@FAST
def test_line_dedup_idempotent_and_conservative(spark, lines):
    from token_etl_spark.operators.text import line_dedup

    df = _get(spark).createDataFrame([(1, "\n".join(lines))], ["doc_id", "text"])
    once = line_dedup(df).collect()[0]
    # idempotent: dedup of the deduped text changes nothing
    df2 = _get(spark).createDataFrame([(1, once["deduped"])], ["doc_id", "text"])
    twice = line_dedup(df2).collect()[0]
    assert twice["deduped"] == once["deduped"]
    assert twice["n_lines"] == twice["n_unique"] == once["n_unique"]
    # conservative: survivors are a subsequence of the original lines
    orig, kept = lines, once["deduped"].split("\n")
    it = iter(orig)
    assert all(any(k == o for o in it) for k in kept), (orig, kept)
    # normalized survivors are unique
    normed = [k.strip().lower() for k in kept]
    assert len(normed) == len(set(normed))


@given(
    vec=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=16,
    ).filter(lambda v: any(x != 0.0 for x in v))
)
@FAST
def test_quantize_vec_bounds_and_scale_invariance(spark, vec):
    from token_etl_spark.operators.similarity import quantize_vec

    df = _get(spark).createDataFrame([(1, vec), (2, [x * 3.0 for x in vec])], ["id", "v"])
    out = {r["id"]: r["q"] for r in df.select(
        "id", quantize_vec(F.col("v").cast("array<double>")).alias("q")
    ).collect()}
    assert all(-127 <= x <= 127 for x in out[1])
    assert max(abs(x) for x in out[1]) == 127  # extreme component saturates
    # sign preserved for exact-zero components
    for x, q in zip(vec, out[1]):
        if x == 0.0:
            assert q == 0
    # scale-invariant up to float rounding at half-up boundaries
    assert all(abs(a - b) <= 1 for a, b in zip(out[1], out[2]))


@given(
    tokens_=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]),
        min_size=1,
        max_size=40,
    ),
    depth=st.integers(min_value=1, max_value=4),
    width=st.integers(min_value=2, max_value=16),
)
@FAST
def test_countmin_never_underestimates(spark, tokens_, depth, width):
    """CMS guarantee on arbitrary streams and sketch shapes: est ≥ truth
    for every item, and total mass per hash row equals stream length."""
    from token_etl_spark.operators.sketch import countmin_estimate, countmin_table

    s = _get(spark)
    occ = s.createDataFrame([(t,) for t in tokens_], "token string")
    truth = occ.groupBy("token").agg(F.count("*").alias("n"))
    cms = countmin_table(occ, depth=depth, width=width)
    est = countmin_estimate(truth, cms, depth=depth, width=width)
    for r in est.collect():
        assert r.est_n >= r.n
    mass = cms.groupBy("row").agg(F.sum("cnt").alias("m")).collect()
    assert all(r.m == len(tokens_) for r in mass)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=4),
)
@FAST
def test_duplicated_spans_invariants(spark, docs, k):
    """Bounds hold on arbitrary corpora: dup windows ≤ windows, covered
    tokens ≤ n_tokens, and the rewrite removes exactly the tokens the
    removal spans cover (n_removed ≤ n_tokens; clean text token count =
    n_tokens − n_removed)."""
    from token_etl_spark.operators.dedup import dedup_spans_rewrite, duplicated_spans

    s = _get(spark)
    df = s.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    stats = {r.id: r for r in duplicated_spans(df, k=k).collect()}
    rewritten = {r.id: r for r in dedup_spans_rewrite(df, k=k).collect()}
    assert set(stats) == set(rewritten) == set(range(len(docs)))
    for i in stats:
        st_, rw = stats[i], rewritten[i]
        assert 0 <= st_.n_dup_windows <= st_.n_windows
        assert 0 <= st_.dup_tokens <= st_.n_tokens
        assert (st_.n_dup_windows == 0) == (st_.dup_tokens == 0)
        assert 0 <= rw.n_removed <= rw.n_tokens
        kept_tokens = [t for t in rw.cleaned.split(" ") if t]
        assert len(kept_tokens) == rw.n_tokens - rw.n_removed
        # the rewrite can only remove spans that the stats flagged
        assert rw.n_removed <= st_.dup_tokens


@given(
    keys=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=8), min_size=1, max_size=12
    ),
    edits=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),   # which key
            st.integers(min_value=0, max_value=7),    # position
            st.sampled_from(["ins", "del", "sub"]),
        ),
        min_size=0,
        max_size=6,
    ),
    q=st.integers(min_value=2, max_value=3),
    d=st.integers(min_value=1, max_value=2),
)
@settings(max_examples=6, deadline=None)
def test_fuzzy_join_complete_on_random_indel_corpora(spark, keys, edits, q, d):
    """Adversarial completeness pin for the Ed-Join prefix filter: on
    random tiny-alphabet corpora (maximally gram-colliding) with random
    insert/delete/substitute corruptions, fuzzy_join equals the exact
    verified cross join — for every (q, d) in the supported range. The
    tiny 'abc' alphabet stresses exactly the repeated-gram multiset
    bookkeeping where an occurrence-dedup bug would hide."""
    from token_etl_spark.operators.fuzzy import fuzzy_join

    left_keys = list(keys)
    for which, pos, kind in edits:
        k = left_keys[which % len(left_keys)]
        p = pos % max(len(k), 1)
        if kind == "ins":
            k = k[:p] + "b" + k[p:]
        elif kind == "del" and len(k) > 1:
            k = k[:p] + k[p + 1:]
        else:
            k = k[:p] + ("a" if k[p:p + 1] != "a" else "c") + k[p + 1:]
        left_keys[which % len(left_keys)] = k
    sess = _get(spark)
    left = sess.createDataFrame([(k,) for k in left_keys], ["k"])
    right = sess.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        (r["lk"], r["rk"], r["dist"])
        for r in fuzzy_join(left, right, "k", "k", max_dist=d, q=q).collect()
    }
    exact = {
        (r["lk"], r["rk"], r["dist"])
        for r in left.select(F.col("k").alias("lk")).distinct()
        .crossJoin(right.select(F.col("k").alias("rk")).distinct())
        .withColumn("dist", F.levenshtein("lk", "rk").cast("long"))
        .where(F.col("dist") <= d)
        .collect()
    }
    assert got == exact


@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=8
    ),
    n_merges=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=4, deadline=None)
def test_bpe_encode_paths_agree_on_random_corpora(spark, words, n_merges):
    """The rank-greedy vocabulary-table encode equals the compiled
    in-order merge_fold chain for ANY table bpe_train learns — the
    well-formedness argument (fusing pair k never creates a pair of
    rank < k) exercised on maximally-repetitive two-letter corpora,
    where overlapping-merge bookkeeping ('aaaa' under (a,a)) is
    hardest."""
    from token_etl_spark.operators.bpe import bpe_encode, bpe_encode_table, bpe_train

    sess = _get(spark)
    docs = sess.createDataFrame([(" ".join(words),)], ["text"]).withColumn(
        "doc_id", F.lit(1)
    )
    merges = bpe_train(docs, n_merges=n_merges)
    chain = {
        (r["word"], tuple(r["pieces"]))
        for r in bpe_encode(docs, merges).collect()
    }
    table = {
        (r["word"], tuple(r["pieces"]))
        for r in bpe_encode_table(docs, merges).collect()
    }
    assert table == chain and table


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=3, max_size=10),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.4, 0.6, 1.0]),
)
@settings(max_examples=5, deadline=None)
def test_containment_pairs_complete_at_uncapped_df(spark, docs, threshold):
    """With max_df >= every shingle's document frequency, rare-shingle
    blocking is COMPLETE: containment >= threshold > 0 requires at least
    one shared shingle, and every sharing pair is then a candidate —
    pinned against a Python-exact containment over the same shingle
    sets. (The declared production cap trades this recall for bounded
    pair emission; this pins the uncapped limit the declared semantics
    approach.)"""
    from token_etl_spark.operators.dedup import containment_pairs
    from token_etl_spark.operators.text import tokens

    sess = _get(spark)
    frame = sess.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"], round(r["containment"], 6))
        for r in containment_pairs(
            frame, k=3, max_df=10_000, threshold=threshold
        ).collect()
    }

    # Python-exact replay using the engine's own tokenizer/shingling
    # (the property under test is the BLOCKING, not the shingle rule)
    sh_rows = frame.select(
        "doc_id", F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(tokens("text")) - 2, F.lit(1))),
                lambda i: F.array_join(F.slice(tokens("text"), i, 3), " "),
            )
        ).alias("sh"),
    ).collect()
    sets = {r["doc_id"]: frozenset(r["sh"]) for r in sh_rows}
    exp = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            c = inter / min(len(sets[a]), len(sets[b]))
            if c >= threshold and inter > 0:
                exp.add((a, b, round(c, 6)))
    assert got == exp


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    max_hamming=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=5, deadline=None)
def test_simhash_neardup_exact_below_band_count(spark, docs, max_hamming):
    """Pigeonhole exactness of hamming-LSH: with max_hamming < bands,
    simhash_neardup equals the all-pairs hamming filter over the same
    fingerprints — randomized corpora push fingerprints into every
    near-tie the fixtures don't."""
    from token_etl_spark.operators.dedup import simhash, simhash_neardup

    sess = _get(spark)
    frame = sess.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_neardup(
            frame, bits=32, bands=4, max_hamming=max_hamming
        ).collect()
    }
    fps = {r["id"]: r["simhash"] for r in simhash(frame).collect()}
    ids = sorted(fps)
    exp = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            h = bin((fps[a] ^ fps[b]) & 0xFFFFFFFF).count("1")
            if h <= max_hamming:
                exp.add((a, b, h))
    assert got == exp


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),            # user
            st.sampled_from(["s1", "s2", "s3", "noise"]),     # type
            st.integers(min_value=0, max_value=2_000),        # seconds
        ),
        min_size=1,
        max_size=40,
    ),
    window_s=st.sampled_from([100, 500, 10_000]),
)
@settings(max_examples=6, deadline=None)
def test_funnel_reach_equals_python_greedy_fold(spark, events, window_s):
    """The declared anchored-first semantics IS a single event-time
    greedy fold — pinned against a pure-Python reference on random event
    soups (duplicate timestamps, out-of-order steps, window expiries).
    This is also the exact fold streaming_funnel_reach carries in state,
    so it transitively pins the streaming twin's semantics."""
    import datetime as dt

    from token_etl_spark.operators.funnel import funnel_reach, funnel_reach_onepass

    steps = ["s1", "s2", "s3"]
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    sess = _get(spark)
    frame = sess.createDataFrame(
        [
            (u, t, base + dt.timedelta(seconds=s), 1.0)
            for u, t, s in events
        ],
        ["user_id", "event_type", "ts", "value"],
    )
    got = {
        r["user"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_reach(frame, steps, window_s=window_s).collect()
    }
    got_onepass = {
        r["user"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_reach_onepass(frame, steps, window_s=window_s).collect()
    }

    base_us = int(base.timestamp()) * 1_000_000
    exp = {}
    by_user = {}
    for u, t, s in sorted(events, key=lambda e: e[2]):
        by_user.setdefault(u, []).append((t, base_us + s * 1_000_000))
    for u, evs in by_user.items():
        t = [None, None, None]
        for typ, tm in evs:
            if typ == "s1":
                if t[0] is None:
                    t[0] = tm
            elif typ in ("s2", "s3"):
                i = steps.index(typ)
                if (
                    t[i] is None
                    and t[i - 1] is not None
                    and tm > t[i - 1]
                    and tm <= t[0] + window_s * 1_000_000
                ):
                    t[i] = tm
        if t[0] is not None:
            exp[u] = tuple(t)
    assert got == exp
    # the single-scan conditional-aggregation form is the same fold
    assert got_onepass == exp


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "ab", "ba", "aa", "x", "longword"]),
            min_size=0,
            max_size=14,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
    w=st.sampled_from([2, 4]),
)
@settings(max_examples=6, deadline=None)
def test_winnow_matches_python_reference_on_random_docs(spark, docs, k, w):
    """Winnowing vs the pure-Python reference on adversarial random
    token soups: repeated tokens (duplicate gram hashes exercise the
    rightmost tie rule), empty/short docs, single-window docs."""
    import hashlib

    from token_etl_spark.operators.text import winnow_fingerprints

    def py_winnow(words):
        if len(words) < k:
            return set()
        grams = []
        for i in range(1, len(words) - k + 2):
            g = " ".join(words[i - 1 : i - 1 + k])
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            grams.append((h, -i, i))
        sel = set()
        for j in range(max(len(grams) - w + 1, 1)):
            h, _, p = min(grams[j : j + w])
            sel.add((p, h))
        return sel

    sess = _get(spark)
    frame = sess.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        (r["id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(frame, k=k, window=w).collect()
    }
    # NOTE: tokens() lowercases/strips, and our sampled words are already
    # clean lowercase, so the whitespace split matches tokens() here
    exp = {
        (i, p, h)
        for i, ws in enumerate(docs)
        for (p, h) in py_winnow([t for t in ws if t])
    }
    assert got == exp


@given(
    membership=st.lists(
        st.integers(min_value=0, max_value=3),  # cluster id per doc (0 = singleton)
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=6, deadline=None)
def test_cluster_safe_split_invariants_on_random_clusters(spark, membership):
    """For ANY (id, component) grouping: every component lands in one
    split, and docs outside the cluster frame match plain hash_split of
    their own id."""
    from token_etl_spark.operators.curation import cluster_safe_split, hash_split

    sess = _get(spark)
    docs = sess.createDataFrame([(i,) for i in range(len(membership))], ["doc_id"])
    clustered = [
        (i, min(j for j, m2 in enumerate(membership) if m2 == m))
        for i, m in enumerate(membership)
        if m != 0
    ]
    clusters = sess.createDataFrame(
        clustered or [(None, None)], "id long, component long"
    ).where(F.col("id").isNotNull())
    out = {r["doc_id"]: r for r in cluster_safe_split(docs, clusters).collect()}
    plain = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    comp_of = dict(clustered)
    splits_per_comp: dict = {}
    for i in range(len(membership)):
        r = out[i]
        if i in comp_of:
            assert r["split_key"] == comp_of[i]
            splits_per_comp.setdefault(comp_of[i], set()).add(r["split"])
        else:
            assert r["split_key"] == i and r["split"] == plain[i]
    assert all(len(s) == 1 for s in splits_per_comp.values())


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=0, max_codepoint=0x7F
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=12, deadline=None)
def test_normalize_text_idempotent_and_canonical(spark, texts):
    """normalize(normalize(x)) == normalize(x) (canonicalization is a
    projection), the output never contains control chars, doubled
    spaces, uppercase ASCII, or edge whitespace, and clean inputs pass
    through byte-identical with changed=False."""
    from token_etl_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    once = normalize_text(df).select("id", F.col("norm_text").alias("text"))
    twice = normalize_text(once)
    rows = twice.collect()
    for r in rows:
        assert r["norm_text"] == r["text"]  # idempotent
        assert r["changed"] is False
        s = r["norm_text"]
        assert "  " not in s and s == s.strip() and s == s.lower()
        assert not any(ord(c) < 0x20 or ord(c) == 0x7F for c in s)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 30),      # host bucket -> canonical collisions
            st.integers(0, 1000),    # quality
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=12, deadline=None)
def test_url_dedup_exactly_one_kept_per_canonical_group(spark, rows):
    """Every canonical-URL group keeps exactly one row, and the kept
    row is maximal by (quality, -id) within its group."""
    from token_etl_spark.operators.curation import url_dedup

    data = [
        (i, f"HTTP://Host{h}.example.com:80/p?utm_x=1", q)
        for i, (h, q) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "doc_id long, url string, q long")
    out = url_dedup(df, quality_col="q").collect()
    groups: dict = {}
    for r in out:
        groups.setdefault(r["canon_url"], []).append(r)
    for members in groups.values():
        kept = [r for r in members if r["kept"]]
        assert len(kept) == 1
        best = max(members, key=lambda r: (r["q"], -r["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]


@given(
    old_texts=st.lists(st.text(alphabet="abc", max_size=6), min_size=0, max_size=10),
    new_texts=st.lists(st.text(alphabet="abc", max_size=6), min_size=0, max_size=10),
)
@settings(max_examples=12, deadline=None)
def test_snapshot_diff_partitions_ids_exhaustively(spark, old_texts, new_texts):
    """Every id appears exactly once, statuses partition the id space,
    and the diff agrees with a Python reference."""
    from token_etl_spark.operators.curation import snapshot_diff

    old = {i: t for i, t in enumerate(old_texts)}
    new = {i: t for i, t in enumerate(new_texts)}
    schema = "doc_id long, text string"
    odf = spark.createDataFrame(list(old.items()) or [(None, None)], schema)
    ndf = spark.createDataFrame(list(new.items()) or [(None, None)], schema)
    if not old:
        odf = odf.where(F.col("doc_id").isNotNull())
    if not new:
        ndf = ndf.where(F.col("doc_id").isNotNull())
    got = {r["id"]: r["status"] for r in snapshot_diff(odf, ndf).collect()}
    want = {}
    for i in set(old) | set(new):
        if i not in old:
            want[i] = "added"
        elif i not in new:
            want[i] = "removed"
        elif old[i] != new[i]:
            want[i] = "changed"
        else:
            want[i] = "unchanged"
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=51, max_value=100),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.sampled_from([2, 4, 5, 10, 20]),
)
@FAST
def test_threshold_curve_matches_python_reference(spark, pairs, k):
    """Band counts and the cumulative at-or-above column replay a plain
    python histogram for any 1/k step; totals conserve the pair count."""
    import math

    from token_etl_spark.operators.dedup import dedup_threshold_curve

    s = _get(spark)
    df = s.createDataFrame(pairs, "id_a long, id_b long, jaccard double")
    got = {
        r["band_lo"]: (r["n_pairs"], r["n_pairs_at_or_above"])
        for r in dedup_threshold_curve(df, step=1.0 / k).collect()
    }
    ref: dict = {}
    for _, _, j in pairs:
        b = math.floor(j * k) / k
        ref[b] = ref.get(b, 0) + 1
    cum = 0
    exp = {}
    for b in sorted(ref, reverse=True):
        cum += ref[b]
        exp[b] = (ref[b], cum)
    assert got == exp
    assert sum(v[0] for v in got.values()) == len(pairs)


@given(
    vecs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.lists(
                st.floats(min_value=-10, max_value=10, allow_nan=False),
                min_size=3,
                max_size=3,
            ),
        ),
        min_size=2,
        max_size=20,
    )
)
@FAST
def test_source_centroid_sim_matches_numpy(spark, vecs):
    """Pairwise centroid cosine equals the numpy reference whenever both
    labels have a nonzero centroid (zero-norm centroids yield NULL/inf
    divisions on both paths — excluded)."""
    import numpy as np

    from token_etl_spark.operators.similarity import source_centroid_similarity

    s = _get(spark)
    df = s.createDataFrame(
        [(lbl, [float(x) for x in v]) for lbl, v in vecs],
        "source string, v array<double>",
    )
    got = {
        (r["source_a"], r["source_b"]): r["cosine_sim"]
        for r in source_centroid_similarity(df).collect()
    }
    by_label: dict = {}
    for lbl, v in vecs:
        by_label.setdefault(lbl, []).append(np.array(v))
    cents = {lbl: np.mean(np.stack(vs), axis=0) for lbl, vs in by_label.items()}
    labels = sorted(cents)
    for i, la in enumerate(labels):
        for lb in labels[i + 1 :]:
            na, nb = np.linalg.norm(cents[la]), np.linalg.norm(cents[lb])
            if na * nb == 0:
                # zero-norm centroid (incl. a subnormal product
                # underflowing to 0): cosine is NULL by declaration —
                # the production guard is on the PRODUCT
                assert got[(la, lb)] is None, (la, lb)
                continue
            exp = float(cents[la] @ cents[lb] / (na * nb))
            assert abs(got[(la, lb)] - exp) < 1e-9, (la, lb)


@given(
    payloads=st.lists(
        st.one_of(
            st.none(),
            st.binary(min_size=0, max_size=200),
            # adversarial prefixes: valid magics with garbage bodies
            st.binary(min_size=0, max_size=60).map(lambda b: b"P5\n" + b),
            st.binary(min_size=0, max_size=60).map(lambda b: b"P6 " + b),
            st.binary(min_size=0, max_size=60).map(lambda b: b"RIFF" + b),
            st.binary(min_size=0, max_size=60).map(
                lambda b: b"RIFF\x00\x00\x00\x00WAVE" + b
            ),
            # NONZERO riff size + garbage: stdlib wave's chunk skip seeks
            # past end and raises BARE RuntimeError (fuzz-found crash)
            st.binary(min_size=0, max_size=60).map(
                lambda b: b"RIFF$\x08\x00\x00WAVE" + b
            ),
            st.binary(min_size=0, max_size=60).map(lambda b: b"\x89PNG\r\n\x1a\n" + b),
            st.binary(min_size=0, max_size=60).map(lambda b: b"\xff\xd8" + b),
        ),
        min_size=1,
        max_size=12,
    )
)
# r9 fuzz-found int32 overflows, pinned (VERDICT r9 item 1): PNG headers
# carry UNSIGNED 32-bit dims — 0x80000000 (= 2**31) overflows the int32
# width column; a top-down BMP height of exactly -2**31 abs()-es to +2**31.
# Both must degrade to kind='unknown', never crash the Arrow batch.
@example(
    payloads=[
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + struct.pack(">II", 2**31, 1),
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + struct.pack(">II", 1, 2**32 - 1),
        b"BM" + b"\x00" * 16 + struct.pack("<ii", 1, -(2**31)),
    ]
)
@FAST
def test_media_decoders_never_crash_on_fuzzed_payloads(spark, payloads):
    """The honest-degradation contract, fuzzed: ANY byte string —
    including truncated/garbage bodies behind valid magic numbers —
    flows through extract_media_features and resize_raw_images as a row
    with kind='unknown'/NULL features or a best-effort decode, never a
    crashed executor task; row alignment is preserved."""
    from token_etl_spark.operators.multimodal import (
        extract_media_features,
        resize_raw_images,
    )

    s = _get(spark)
    rows = [(i, bytearray(p) if p is not None else None) for i, p in enumerate(payloads)]
    df = s.createDataFrame(rows, "doc_id long, payload binary")
    feats = extract_media_features(df).collect()
    assert sorted(r["doc_id"] for r in feats) == list(range(len(payloads)))
    resized = resize_raw_images(df, 4, 4)
    out = extract_media_features(resized.select("doc_id", "payload")).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(payloads)))


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=12),
                st.integers(min_value=0, max_value=1000),
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
    n_buckets=st.sampled_from([2, 4, 16]),
)
# every batch sequence pays two sink commits per batch, so the default
# wave draws one sequence beside the pinned one; the full run draws 8
@example(
    batches=[[(0, 1), (1, 2), (2, 3), (3, 4)], [(1, 20), (5, 6)], [(0, 100), (5, 60), (7, 7)]],
    n_buckets=4,
)
@settings(
    max_examples=8 if os.environ.get("SPARK_GRAFT_FULL_TESTS") else 1, deadline=None
)
def test_incremental_upsert_equals_full_upsert(spark, tmp_path_factory, batches, n_buckets):
    """The touched-bucket merge (staging-swap commit) is semantically
    identical to the whole-table upsert for ANY batch sequence and
    bucket count: same surviving (key, value) per key after every
    sequence — keep-latest across batches, deterministic within one."""
    from token_etl_spark.io.sinks import (
        read_upserted,
        upsert_by_key,
        upsert_by_key_incremental,
    )

    s = _get(spark)
    base = tmp_path_factory.mktemp("ups")
    full_p, inc_p = str(base / "full"), str(base / "inc")
    for batch in batches:
        # dedup keys within a batch (within-batch winner is hash-tie
        # arbitrary-but-stable; pin the comparison on deterministic input)
        rows = list({k: (f"k{k}", v) for k, v in batch}.values())
        df = s.createDataFrame(rows, "_key string, v long")
        upsert_by_key(s, df, full_p)
        upsert_by_key_incremental(s, df, inc_p, n_buckets=n_buckets)
    full = {r["_key"]: r["v"] for r in read_upserted(s, full_p).collect()}
    inc = {r["_key"]: r["v"] for r in read_upserted(s, inc_p).collect()}
    assert full == inc


# Adversarial strings: control chars, NUL bytes, unicode junk
# (surrogate-adjacent codepoints, RTL marks, combining chars), huge
# single tokens, empty/whitespace-only, URL-ish fragments with every
# delimiter — the raw-crawl input classes that reach these operators
# first at 100 TB, where one throwing row kills an executor task.
_ADVERSARIAL_TEXT = st.one_of(
    st.text(max_size=200),
    st.text(
        alphabet=st.characters(
            codec="utf-8", categories=("Cc", "Cf", "Zs", "Po", "Sm", "So", "Mn")
        ),
        max_size=120,
    ),
    st.just(""),
    st.just(" \t\n\r " * 10),
    st.just("x" * 5000),  # one huge token
    st.just("\x00nul\x00"),
    st.builds(
        lambda a, b: f"http://{a}:8080/p?q={b}#f%zz%%41//..;,|",
        st.text(max_size=20),
        st.text(max_size=20),
    ),
)


@given(texts=st.lists(_ADVERSARIAL_TEXT, min_size=1, max_size=10))
@FAST
def test_text_operators_never_crash_on_adversarial_strings(spark, texts):
    """The media-fuzz contract extended to the raw-string ingest tier:
    ANY string flows through the text/curation operators as a row (or a
    clean filter-drop), never a crashed task; row alignment of per-doc
    reports is preserved. The class of bug this targets is the r9/r10
    media finds (one malformed input kills the batch) on the operators
    that see crawl text before anything else does."""
    from token_etl_spark.operators.curation import url_canonicalize
    from token_etl_spark.operators.text import (
        chunk_documents,
        language_id,
        quality_stats,
        token_estimate,
    )

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)

    q = quality_stats(df).collect()
    assert len(q) == n
    lid = language_id(df).collect()
    assert len(lid) == n
    te = df.select("doc_id", token_estimate("text").alias("t")).collect()
    assert len(te) == n and all(r["t"] is not None and r["t"] >= 0 for r in te)
    # chunking may expand rows but must cover every doc exactly once in
    # concatenation (its own tests pin that); here: no crash, ids subset
    ch = chunk_documents(df).collect()
    assert {r["doc_id"] for r in ch} <= set(range(n))

    urls = df.select("doc_id", F.col("text").alias("url"))
    uc = url_canonicalize(urls).collect()
    assert len(uc) == n
    assert all(r["canon_url"] is not None for r in uc)


@given(texts=st.lists(_ADVERSARIAL_TEXT, min_size=1, max_size=8))
@FAST
def test_text_transforms_never_crash_on_adversarial_strings(spark, texts):
    """Second wave of the no-crash sweep: the TRANSFORM-shaped string
    operators (normalize, content-defined chunking, fingerprinting,
    line filtering) under the same adversarial inputs — each must emit
    aligned rows or clean drops, never a task failure."""
    from token_etl_spark.operators.text import (
        cdc_chunks,
        fingerprint,
        line_filter,
        normalize_text,
    )

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)

    nt = normalize_text(df).collect()
    assert len(nt) == n
    fp = fingerprint(df).collect()
    assert len(fp) == n
    lf = line_filter(df).collect()
    assert len(lf) == n
    ch = cdc_chunks(df).collect()
    # chunking may expand or drop empty docs, but never invents ids
    assert {r["doc_id"] for r in ch} <= set(range(n))


@given(texts=st.lists(_ADVERSARIAL_TEXT, min_size=1, max_size=8))
@FAST
def test_sketch_operators_never_crash_on_adversarial_strings(spark, texts):
    """Third wave of the no-crash sweep: the hashing/sketch tier.
    md5-derived bucketing must absorb any string (NULs, unicode junk,
    5000-char tokens); sketch shape invariants hold regardless of
    input pathology."""
    from token_etl_spark.operators.sketch import (
        countmin_table,
        hll_registers,
        kmv_sketch,
    )

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, tok string"
    )
    cms = countmin_table(df, item_col="tok", depth=2, width=16).collect()
    assert all(0 <= r["row"] < 2 and 0 <= r["bucket"] < 16 for r in cms)
    assert sum(r["cnt"] for r in cms) == 2 * len(texts)  # every row lands in each hash row
    hll = hll_registers(df, "tok", m=16).collect()
    assert all(0 <= r["bucket"] < 16 and 1 <= r["m_j"] <= 48 for r in hll)
    kmv = kmv_sketch(df, "tok", k=4).collect()
    # bottom-k rows: one per distinct hash up to k, ranks contiguous
    n_distinct = len({t for t in texts})
    assert len(kmv) == min(4, n_distinct)
    assert sorted(r["rank"] for r in kmv) == list(range(1, len(kmv) + 1))
    assert all(r["h"] >= 0 for r in kmv)


@given(texts=st.lists(_ADVERSARIAL_TEXT, min_size=2, max_size=8))
@FAST
def test_retrieval_and_gates_never_crash_on_adversarial_strings(spark, texts):
    """Fourth wave of the no-crash sweep: the retrieval scorer and the
    quality gates. BM25 must rank (or cleanly return nothing) against
    any document/query text; the Gopher gate must emit a verdict row
    per document with a populated keep flag and reasons string."""
    from token_etl_spark.operators.retrieval import bm25_topk
    from token_etl_spark.operators.text import gopher_filter

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)

    g = gopher_filter(df).collect()
    assert len(g) == n
    assert all(r["keep"] in (True, False) for r in g)
    assert all(r["reject_reasons"] is not None for r in g)
    # keep=True iff no reject reasons
    assert all((r["reject_reasons"] == "") == bool(r["keep"]) for r in g)

    queries = s.createDataFrame([(0, texts[0])], "query_id long, query_text string")
    hits = bm25_topk(df, queries, k=3).collect()
    assert len(hits) <= 3
    assert all(r["bm25"] is not None for r in hits)


@given(texts=st.lists(_ADVERSARIAL_TEXT, min_size=1, max_size=8))
@FAST
def test_pii_url_langid_never_crash_and_hold_invariants(spark, texts):
    """Fifth wave of the no-crash sweep (VERDICT r10 item 5): the
    remaining regex-heavy string-input surface — pii_scan, the langid
    scoring pieces, and url_canonicalize's fixed point. Per the r10
    lesson every output column is CONSUMED (Catalyst pruning hid the
    rolling-hash overflow for rounds), and each operator carries a
    semantic invariant, not just row alignment:

    - pii_scan: counts are non-negative, redaction order ends with the
      phone pass (so no phone match survives), and a document with zero
      hits passes through byte-identical;
    - language_id: the predicted language IS the alphabetically-first
      argmax of the emitted score columns, 'und' iff all scores are 0 —
      the exact tie-break the oracle replays;
    - url_canonicalize: canonicalization is IDEMPOTENT (canon(canon(u))
      == canon(u)) — the property URL-level dedup silently assumes when
      it re-canonicalizes already-normalized state."""
    import re

    from token_etl_spark.operators.curation import _PII, pii_scan, url_canonicalize
    from token_etl_spark.operators.text import STOPWORDS, language_id

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)

    pii = pii_scan(df).collect()
    assert len(pii) == n
    phone_pat = _PII[-1][1]
    assert _PII[-1][0] == "phone"  # redaction order contract
    for r in sorted(pii, key=lambda r: r["doc_id"]):
        counts = [r[f"n_{name}"] for name, _, _ in _PII]
        assert all(c >= 0 for c in counts)
        assert r["redacted"] is not None
        assert not re.search(phone_pat, r["redacted"])
        if sum(counts) == 0:
            assert r["redacted"] == texts[r["doc_id"]]

    lid = language_id(df).collect()
    assert len(lid) == n
    for r in lid:
        scores = {lang: r[f"score_{lang}"] for lang in STOPWORDS}
        assert all(v >= 0 for v in scores.values())
        best = max(scores.values())
        exp = (
            "und"
            if best == 0
            else min(lang for lang, v in scores.items() if v == best)
        )
        assert r["lang_pred"] == exp

    urls = df.select("doc_id", F.col("text").alias("url"))
    once = url_canonicalize(urls).select(
        "doc_id", F.col("canon_url").alias("url")
    )
    twice = {
        r["doc_id"]: r["canon_url"] for r in url_canonicalize(once).collect()
    }
    first = {r["doc_id"]: r["url"] for r in once.collect()}
    assert twice == first


_ADVERSARIAL_HTMLISH = st.one_of(
    _ADVERSARIAL_TEXT,
    st.builds(
        lambda a, b: f"<p>{a}</p><nav><a href='/x'>{b}</a></nav><script>{a}</script>",
        _ADVERSARIAL_TEXT,
        _ADVERSARIAL_TEXT,
    ),
    st.just("<p>" + "&nbsp;" * 50 + "</p>"),
    st.just("<" * 200),                 # unclosed tag soup
    st.just("<a>" * 100 + "deep"),      # nested anchors, never closed
    st.just("<!--" + "x" * 300),        # unterminated comment
)


@given(texts=st.lists(_ADVERSARIAL_HTMLISH, min_size=1, max_size=8))
@FAST
def test_html_extract_and_domain_never_crash_wave6(spark, texts):
    """Sixth wave of the no-crash sweep (VERDICT r11 item 7): the new
    crawl-ingest string surfaces — extract_html_text under tag soup /
    NULs / unicode junk / 5000-char strings, and registered_domain
    (both the lite rule and the public-suffix table path) under the
    same strings as URLs. Every output column is consumed and carries a
    semantic invariant:

    - extraction: aligned rows; kept blocks never exceed blocks;
      extracted_chars is exactly the length of extracted; zero kept
      blocks means empty extraction;
    - registered_domain: never an empty string, and the ADVICE-r11 leak
      class stays closed — no '@', ':', '/' or whitespace ever appears
      in an emitted domain, under EITHER path;
    - the PSL path agrees with the lite rule whenever the lite result
      matches no table suffix."""
    from token_etl_spark.operators.curation import (
        registered_domain,
        with_registered_domain,
    )
    from token_etl_spark.operators.text import extract_html_text

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)

    ex = extract_html_text(df).collect()
    assert len(ex) == n
    for r in ex:
        if r["n_blocks"] is None:
            assert r["extracted"] is None and r["extracted_chars"] is None
            continue
        assert 0 <= r["n_kept_blocks"] <= r["n_blocks"]
        assert r["extracted_chars"] == len(r["extracted"])
        if r["n_kept_blocks"] == 0:
            assert r["extracted"] == ""

    urls = df.select("doc_id", F.col("text").alias("url"))
    lite = {
        r["doc_id"]: r["d"]
        for r in urls.select(
            "doc_id", registered_domain("url").alias("d")
        ).collect()
    }
    assert len(lite) == n
    suffixes = s.createDataFrame([("com",), ("co.uk",)], ["suffix"])
    psl = {
        r["doc_id"]: r["domain"]
        for r in with_registered_domain(urls, suffixes=suffixes).collect()
    }
    assert len(psl) == n
    for vals in (lite, psl):
        for d in vals.values():
            if d is not None:
                assert d != ""
                assert not any(c in d for c in "@:/ \t\n\r\x0b\x0c")
    for did, d in lite.items():
        if d is None or d.endswith(".com") or d in ("com",) or d.endswith("co.uk"):
            continue
        assert psl[did] == d, (did, d, psl[did])


# --- wave 7 (VERDICT r12 item 6): the newest surfaces -----------------------

_REPETITIVE_TEXT = st.one_of(
    _ADVERSARIAL_TEXT,
    # repetition-SHAPED strings: fold bugs in the inline twin won't
    # crash, they silently diverge from the explode form — so the fuzz
    # corpus must actually exercise duplicate lines/paragraphs/grams
    st.builds(
        lambda line, n: "\n".join([line] * n),
        st.text(min_size=1, max_size=30),
        st.integers(min_value=1, max_value=6),
    ),
    st.builds(
        lambda para, n: ("\r\n\r\n").join([para] * n),
        st.text(min_size=1, max_size=40),
        st.integers(min_value=1, max_value=5),
    ),
    st.builds(
        lambda tok, n: " ".join([tok] * n),
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Zs", "Cc")),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=1, max_value=12),
    ),
)


@given(texts=st.lists(_REPETITIVE_TEXT, min_size=1, max_size=8))
@FAST
def test_repetition_inline_equals_explode_under_fuzz(spark, texts):
    """Wave 7: the EQUIVALENCE property itself, fuzzed — the map-only
    higher-order-fold twin must reproduce the explode form's seven
    signals EXACTLY on adversarial and repetition-shaped strings
    (NULs, unicode junk, 5000-char tokens, CRLF paragraph runs,
    duplicate-token tapes). A fold bug here would not crash; it would
    silently diverge — exactly what this pin exists to catch."""
    from token_etl_spark.operators.text import (
        repetition_signals,
        repetition_signals_inline,
    )

    s = _get(spark)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
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
    assert batch == inline


_SUFFIX_ROW = st.one_of(
    st.sampled_from(["com", "co.uk", "COM", " Co.Uk ", "net", "org", ""]),
    st.text(max_size=12),
)


@given(rows=st.lists(_SUFFIX_ROW, min_size=1, max_size=10))
@FAST
def test_suffix_table_canonicalization_invariants(spark, rows):
    """Wave 7: PSL suffix-table canonicalization — mixed-case,
    space-padded, duplicate, and blank rows. Invariants: the
    provenance fingerprint is invariant under row order, duplication,
    case, and space padding (semantically identical tables MUST
    fingerprint identically — a spurious load refusal is the failure
    mode); an all-blank table fingerprints like an empty one; and
    with_registered_domain emits identical domains under every
    spelling of the same table."""
    from token_etl_spark.operators.curation import (
        _suffix_fingerprint,
        with_registered_domain,
    )

    s = _get(spark)
    base = s.createDataFrame([(r,) for r in rows], ["suffix"])
    shuffled = s.createDataFrame([(r,) for r in reversed(rows)], ["suffix"])
    doubled = s.createDataFrame([(r,) for r in rows + rows], ["suffix"])
    padded = s.createDataFrame([(f" {r} ",) for r in rows], ["suffix"])
    upper = s.createDataFrame([(r.upper(),) for r in rows], ["suffix"])

    fp = _suffix_fingerprint(base)
    assert fp == _suffix_fingerprint(shuffled) == _suffix_fingerprint(doubled)
    assert fp == _suffix_fingerprint(padded)
    # upper-casing is invariant only when the ENGINE's lower() round-trips
    # it back to the same canonical form — check through the engine, the
    # same authority the join uses
    eng = {
        r["s"]
        for r in base.select(F.lower(F.trim(F.col("suffix"))).alias("s")).collect()
    }
    eng_up = {
        r["s"]
        for r in upper.select(F.lower(F.trim(F.col("suffix"))).alias("s")).collect()
    }
    if eng == eng_up:
        assert fp == _suffix_fingerprint(upper)

    urls = s.createDataFrame(
        [(i, u) for i, u in enumerate(
            ["https://bbc.co.uk/x", "http://a.b.com/y", "ftp://weird", "not a url"]
        )],
        "doc_id long, url string",
    )
    out_base = {
        r["doc_id"]: r["domain"]
        for r in with_registered_domain(urls, suffixes=base).collect()
    }
    for variant in (shuffled, doubled, padded):
        out_v = {
            r["doc_id"]: r["domain"]
            for r in with_registered_domain(urls, suffixes=variant).collect()
        }
        assert out_v == out_base


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3", "k4", "k5"]),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=2,
        max_size=12,
    )
)
@FAST
def test_split_shard_rows_boundary_invariants(spark, rows):
    """Wave 7: split boundary arithmetic under fuzz — 2-doc shards,
    zero-token docs, all-tokens-in-one-doc, duplicate keys. Invariants
    whenever >= 2 distinct keys exist: every row comes back exactly
    once with shard_id in {old, new}; both halves non-empty; tied keys
    never separate; ranges disjoint (max old key < min new key). With
    one distinct key the split must refuse loudly, never emit
    overlapping ranges."""
    import pytest

    from token_etl_spark.operators.curation import split_shard_rows

    s = _get(spark)
    df = s.createDataFrame(
        [(i, k, n) for i, (k, n) in enumerate(rows)],
        "doc_id long, ord_key string, n_tokens long",
    )
    distinct_keys = {k for k, _ in rows}
    if len(distinct_keys) == 1:
        with pytest.raises(Exception, match="shares one ord_key"):
            split_shard_rows(df, 7, 99).collect()
        return
    got = split_shard_rows(df, 7, 99).collect()
    assert len(got) == len(rows)
    assert {r["doc_id"] for r in got} == set(range(len(rows)))
    assert {r["shard_id"] for r in got} == {7, 99}
    by_key: dict[str, set[int]] = {}
    for r in got:
        by_key.setdefault(r["ord_key"], set()).add(r["shard_id"])
    assert all(len(v) == 1 for v in by_key.values()), by_key
    old_keys = {r["ord_key"] for r in got if r["shard_id"] == 7}
    new_keys = {r["ord_key"] for r in got if r["shard_id"] == 99}
    assert old_keys and new_keys
    assert max(old_keys) < min(new_keys)


@given(
    shards=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),      # n_docs
            st.integers(min_value=0, max_value=5000),    # shard_tokens
        ),
        min_size=2,
        max_size=8,
    ),
    pick=st.integers(min_value=0, max_value=6),
)
@FAST
def test_merge_shard_rows_conservation(spark, shards, pick):
    """Wave 7 extension: merge arithmetic under fuzz — folding any
    ADJACENT pair conserves total docs and tokens, keeps every other
    row untouched, keys the merged row under the kept id with the
    union range, and leaves the manifest's ranges disjoint/ordered."""
    from token_etl_spark.operators.curation import merge_shard_rows

    s = _get(spark)
    rows = [
        (i, nd, tok, f"k{2 * i:03d}", f"k{2 * i + 1:03d}")
        for i, (nd, tok) in enumerate(shards)
    ]
    man = s.createDataFrame(
        rows,
        "shard_id long, n_docs long, shard_tokens long, first_key string, last_key string",
    )
    i = pick % (len(rows) - 1)
    keep, drop = rows[i], rows[i + 1]
    got = {r["shard_id"]: r for r in merge_shard_rows(man, keep[0], drop[0]).collect()}
    assert len(got) == len(rows) - 1 and drop[0] not in got
    m = got[keep[0]]
    assert m["n_docs"] == keep[1] + drop[1]
    assert m["shard_tokens"] == keep[2] + drop[2]
    assert m["first_key"] == keep[3] and m["last_key"] == drop[4]
    for r in rows:
        if r[0] not in (keep[0], drop[0]):
            g = got[r[0]]
            assert (g["n_docs"], g["shard_tokens"], g["first_key"], g["last_key"]) == (
                r[1], r[2], r[3], r[4]
            )
    ordered = sorted(got.values(), key=lambda r: r["first_key"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["last_key"] < b["first_key"]
    # totals conserved across the whole manifest
    assert sum(r["n_docs"] for r in got.values()) == sum(r[1] for r in rows)
    assert sum(r["shard_tokens"] for r in got.values()) == sum(r[2] for r in rows)


def test_merge_shard_rows_refuses_missing_pairs(spark):
    """ADVICE r13: the existence assert must fire in EVERY failure mode
    — including neither-id-matches, where the pair-filtered groupBy is
    empty and an in-group assert never evaluates (the pre-fix silent
    no-op). All four refusal shapes: both missing, keep missing, drop
    missing, keep == drop."""
    import pytest

    from token_etl_spark.operators.curation import merge_shard_rows

    s = _get(spark)
    man = s.createDataFrame(
        [(0, 3, 100, "a", "c"), (1, 2, 50, "d", "e")],
        "shard_id long, n_docs long, shard_tokens long, first_key string, last_key string",
    )
    for keep, drop in [(7, 9), (0, 9), (9, 1), (0, 0)]:
        with pytest.raises(Exception, match="both shards must exist"):
            merge_shard_rows(man, keep, drop).collect()


# ---------------------------------------------------------------------------
# fuzz wave 8 (r14): planner rules under ties/overlaps, the apply-loop
# merge fixpoint, domain-reputation refresh rule-migration chains, and
# the composed streaming ingest under fuzzed HTML/URL strategies.


@given(
    shards=st.lists(
        st.tuples(st.integers(min_value=1, max_value=5),
                  st.integers(min_value=0, max_value=12)),
        min_size=1,
        max_size=8,
    ),
    tps=st.sampled_from([4, 8]),
    split_factor=st.integers(min_value=1, max_value=3),
    num=st.integers(min_value=1, max_value=3),
    den=st.integers(min_value=1, max_value=2),
)
@FAST
def test_plan_shard_maintenance_rules_fuzz(spark, shards, tps, split_factor, num, den):
    """Wave 8: the planner's action column replays a pure-Python
    restatement of its documented rules on arbitrary manifests —
    single-shard manifests (no pair, never merge), equal-token TIES
    exactly at both integer thresholds (tokens and budgets drawn from
    overlapping small ranges so boundaries are hit constantly),
    overlapping merge recommendations (A+B and B+C both qualifying),
    and 1-doc giants (never split)."""
    from token_etl_spark.operators.curation import plan_shard_maintenance

    s = _get(spark)
    rows = [
        (i, nd, tok, f"k{2 * i:03d}", f"k{2 * i + 1:03d}")
        for i, (nd, tok) in enumerate(shards)
    ]
    man = s.createDataFrame(
        rows,
        "shard_id long, n_docs long, shard_tokens long, first_key string, last_key string",
    )
    got = {
        r["shard_id"]: r
        for r in plan_shard_maintenance(
            man, tps, split_factor=split_factor,
            merge_budget_num=num, merge_budget_den=den,
        ).collect()
    }
    assert set(got) == set(range(len(shards)))
    for i, (nd, tok) in enumerate(shards):
        r = got[i]
        if i + 1 < len(shards):
            assert r["next_shard_id"] == i + 1
            assert r["pair_tokens"] == tok + shards[i + 1][1]
        else:
            assert r["next_shard_id"] is None and r["pair_tokens"] is None
        if tok > split_factor * tps and nd >= 2:
            exp = "split"
        elif i + 1 < len(shards) and (tok + shards[i + 1][1]) * den <= tps * num:
            exp = "merge_with_next"
        else:
            exp = "ok"
        assert r["action"] == exp, (i, nd, tok, tps, split_factor, num, den)


@given(
    shards=st.lists(
        st.tuples(st.integers(min_value=1, max_value=5),
                  st.integers(min_value=0, max_value=10)),
        min_size=1,
        max_size=6,
    ),
    tps=st.sampled_from([4, 7]),
)
@settings(max_examples=6, deadline=None)
def test_merge_min_pair_fixpoint_fuzz(spark, shards, tps):
    """Wave 8: iterating merge_min_pair reaches the no-qualifying-pair
    fixpoint within n-1 folds, conserves doc/token totals, keeps the
    key ranges disjoint/ordered, and tracks the pure greedy replay
    STEP BY STEP — the exact arithmetic ext_shard_apply unrolls and
    apply_shard_maintenance's merge policy pins against."""
    from test_sinks import _greedy_merge_replay

    from token_etl_spark.operators.curation import merge_min_pair

    s = _get(spark)
    schema = (
        "shard_id long, n_docs long, shard_tokens long, "
        "first_key string, last_key string"
    )
    cur = [
        {"shard_id": i, "n_docs": nd, "shard_tokens": tok,
         "first_key": f"k{2 * i:03d}", "last_key": f"k{2 * i + 1:03d}"}
        for i, (nd, tok) in enumerate(shards)
    ]
    seq, final = _greedy_merge_replay(list(cur), tps)
    assert len(seq) <= max(0, len(cur) - 1)
    # replay the same number of Spark steps plus ONE extra (the
    # fixpoint identity), comparing the frame after every step
    replay_rows = list(cur)
    for step in range(len(seq) + 1):
        df = s.createDataFrame(
            [(r["shard_id"], r["n_docs"], r["shard_tokens"],
              r["first_key"], r["last_key"]) for r in replay_rows],
            schema,
        )
        out = sorted(
            (r.asDict() for r in merge_min_pair(df, tps).collect()),
            key=lambda r: r["first_key"],
        )
        exp_seq, _ = _greedy_merge_replay(list(replay_rows), tps)
        if exp_seq:
            k, d = exp_seq[0]
            py = {r["shard_id"]: dict(r) for r in replay_rows}
            py[k] = {
                "shard_id": k,
                "n_docs": py[k]["n_docs"] + py[d]["n_docs"],
                "shard_tokens": py[k]["shard_tokens"] + py[d]["shard_tokens"],
                "first_key": py[k]["first_key"],
                "last_key": py[d]["last_key"],
            }
            del py[d]
            expected = sorted(py.values(), key=lambda r: r["first_key"])
        else:
            expected = sorted(replay_rows, key=lambda r: r["first_key"])
        assert out == expected, (step, out, expected)
        replay_rows = out
    # at the fixpoint: totals conserved, ranges disjoint/ordered
    assert {r["shard_id"]: (r["n_docs"], r["shard_tokens"]) for r in replay_rows} == {
        r["shard_id"]: (r["n_docs"], r["shard_tokens"]) for r in final.values()
    }
    assert sum(r["n_docs"] for r in replay_rows) == sum(nd for nd, _ in shards)
    assert sum(r["shard_tokens"] for r in replay_rows) == sum(t for _, t in shards)
    for a, b in zip(replay_rows, replay_rows[1:]):
        assert a["last_key"] < b["first_key"]


@given(
    suf1=st.lists(
        st.sampled_from(["com", "co.uk", "org", "net.au", "de"]),
        min_size=1, max_size=4, unique=True,
    ),
    suf2=st.lists(
        st.sampled_from(["com", "co.uk", "org", "net.au", "de"]),
        min_size=1, max_size=4, unique=True,
    ),
    decorate=st.booleans(),
)
@settings(max_examples=4, deadline=None)
def test_refresh_domain_stats_rule_chain_fuzz(spark, suf1, suf2, decorate):
    """Wave 8: lite → psl(suf1) → psl(suf2) refresh chains. Each
    rule CHANGE refuses without allow_rule_change and lands with it;
    a refresh under a semantically-identical table (case/padding/dup
    decorations the canonicalization ignores) is NOT a rule change; a
    crash between the staged swap's marker and its rename heals into
    the refreshed state on the next load."""
    import shutil
    import tempfile

    import pytest

    import token_etl_spark.operators.curation as C2
    from token_etl_spark.io.sinks import _bucket_fs
    from token_etl_spark.operators.curation import (
        load_domain_stats,
        refresh_domain_stats,
    )

    s = _get(spark)
    docs = s.createDataFrame(
        [(i, f"https://site{i % 3}.example.co.uk/{i}") for i in range(6)],
        "doc_id long, url string",
    )

    def table(suffixes):
        rows = list(suffixes)
        if decorate:
            rows = [r.upper() for r in rows] + [f"  {rows[0]} ", rows[0]]
        return s.createDataFrame([(x,) for x in rows], ["suffix"])

    base = tempfile.mkdtemp(prefix="refresh_fuzz_")
    p = f"{base}/tree"
    try:
        refresh_domain_stats(s, docs, p)  # first fit: lite
        fp_lite = C2._suffix_fingerprint(None)
        fp1 = C2._suffix_fingerprint(table(suf1))
        fp2 = C2._suffix_fingerprint(table(suf2))

        # lite → psl(suf1): a rule change, must be deliberate
        with pytest.raises(ValueError, match="allow_rule_change"):
            refresh_domain_stats(s, docs, p, suffixes=table(suf1))
        refresh_domain_stats(
            s, docs, p, suffixes=table(suf1), allow_rule_change=True
        )
        assert load_domain_stats(s, p, suffixes=table(suf1)).count() >= 1
        with pytest.raises(ValueError, match="mismatched registered-domain"):
            load_domain_stats(s, p)  # the old lite rule now refuses

        # psl(suf1) → psl(suf2): a change IFF the canonical fingerprints
        # differ (decorations never make it one)
        if fp2 == fp1:
            refresh_domain_stats(s, docs, p, suffixes=table(suf2))
        else:
            with pytest.raises(ValueError, match="allow_rule_change"):
                refresh_domain_stats(s, docs, p, suffixes=table(suf2))
            refresh_domain_stats(
                s, docs, p, suffixes=table(suf2), allow_rule_change=True
            )
        assert load_domain_stats(s, p, suffixes=table(suf2)).count() >= 1
        assert fp_lite != fp1

        # crash window: stage a lite re-fit with the marker but no
        # rename — the next load must read the NEW (lite) state
        staging = p + ".staging-full"
        stats = C2.domain_stats(docs)
        stats.write.mode("overwrite").parquet(f"{staging}/stats")
        s.createDataFrame(
            [("lite", "")], "rule string, suffix_md5 string"
        ).write.mode("overwrite").parquet(f"{staging}/params")
        fs, hpath = _bucket_fs(s, p)
        fs.create(hpath(f"{staging}/_SUCCESS"), True).close()
        with pytest.raises(ValueError, match="mismatched registered-domain"):
            load_domain_stats(s, p, suffixes=table(suf2))
        assert load_domain_stats(s, p).count() >= 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


_CHROME = '<html><body><nav><a href="/">Home</a> <a href="/a">About page</a></nav>'
_GOOD_BODY = (
    "<p>the quick brown fox jumps over a lazy dog while seven other "
    "animals watch quietly from the distant hillside at dusk and a "
    "gentle breeze carries birdsong across the meadow</p>"
)
_SPAM_BODY = "<p>" + "the spam line is here today ok " * 20 + "</p>"
_SHORT_BODY = "<p>tiny</p>"
_BODIES = [_GOOD_BODY, _SPAM_BODY, _SHORT_BODY]
_URL_SHAPES = [
    "https://good.com/{i}",
    "https://junkhost",
    "https://rare.org/{i}",
    "https://user@good.com:8080/{i}",
    "https://good.com./{i}",
    "HTTPS://GOOD.COM/{i}",
]


@given(
    picks=st.lists(
        st.tuples(st.integers(min_value=0, max_value=len(_BODIES) - 1),
                  st.integers(min_value=0, max_value=len(_URL_SHAPES) - 1)),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=4, deadline=None)
def test_streaming_ingest_equals_batch_fuzz(spark, picks):
    """Wave 8: the composed streaming ingest runner reaches
    prepare_corpus's exact per-document ingest decisions under FUZZED
    html/url combinations (good/spam/short bodies × registrable, junk,
    rare, userinfo+port, trailing-dot, uppercase-scheme hosts) and
    under a fuzz-chosen BATCH BOUNDARY (maxFilesPerTrigger=1 over a
    two-file source), not just the fixed four-document fixture."""
    import shutil
    import tempfile

    from token_etl_spark.operators.curation import fit_and_save_domain_stats
    from token_etl_spark.pipelines.corpus import prepare_corpus
    from token_etl_spark.streaming.curation import run_streaming_ingest

    s = _get(spark)
    rows = [
        (i, _CHROME + _BODIES[b] + "</body></html>",
         _URL_SHAPES[u].format(i=i))
        for i, (b, u) in enumerate(picks)
    ]
    docs = s.createDataFrame(rows, "doc_id long, text string, url string")

    base = tempfile.mkdtemp(prefix="ingest_fuzz_")
    try:
        rep_corpus = s.createDataFrame(
            [(i, f"https://good.com/{i}") for i in range(6)],
            "doc_id long, url string",
        )
        stats_path = f"{base}/rep"
        fit_and_save_domain_stats(s, rep_corpus, stats_path)
        stats = s.read.parquet(f"{stats_path}/stats")

        # a two-file source + maxFilesPerTrigger=1 forces a batch
        # boundary through the middle of the doc set
        src = f"{base}/src"
        docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        out = f"{base}/out"
        run_streaming_ingest(
            s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            stats_path,
            out,
            f"{base}/ckpt",
            min_docs=5,
        )
        got = {r["doc_id"]: r for r in s.read.parquet(out).collect()}
        assert set(got) == {r[0] for r in rows}

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
            if g["ingest_keep"]:
                assert g["text"] is not None and "<p>" not in g["text"]
            else:
                assert g["text"] is None
    finally:
        shutil.rmtree(base, ignore_errors=True)
