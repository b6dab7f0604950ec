from __future__ import annotations

import json

from pyspark.sql import functions as F

from token_etl_spark import cli, fixtures
from token_etl_spark.io.sinks import read_upserted


def test_cli_all_four_pipelines(spark, tmp_path):
    raw_pdf = fixtures.make_raw_transfer_events_pdf(n_rows=300)
    fixtures.raw_transfer_events_df(spark, n_rows=300).write.parquet(str(tmp_path / "raw"))
    fixtures.block_timestamps_df(spark, raw_pdf).write.parquet(str(tmp_path / "blocks"))
    fixtures.transfers_df(spark, n_rows=300, n_wallets=8).write.parquet(
        str(tmp_path / "transfers")
    )
    fixtures.token_metadata_df(spark).write.parquet(str(tmp_path / "meta"))
    (tmp_path / "registry.json").write_text(
        json.dumps(fixtures.make_dapp_registry_pdf().to_dict("records"))
    )

    cli.main(
        ["ingest", "--raw", str(tmp_path / "raw"), "--blocks", str(tmp_path / "blocks"),
         "--out", str(tmp_path / "edges")]
    )
    cli.main(
        ["wallets", "--transfers", str(tmp_path / "transfers"),
         "--metadata", str(tmp_path / "meta"), "--out", str(tmp_path / "wallets")]
    )
    cli.main(
        ["tokens", "--transfers", str(tmp_path / "transfers"),
         "--metadata", str(tmp_path / "meta"), "--dapps", str(tmp_path / "registry.json"),
         "--out", str(tmp_path / "tokens")]
    )
    cli.main(
        ["dapps", "--transfers", str(tmp_path / "transfers"),
         "--registry", str(tmp_path / "registry.json"), "--out", str(tmp_path / "dapps")]
    )

    assert read_upserted(spark, str(tmp_path / "edges")).count() == 300
    wallets = spark.read.parquet(str(tmp_path / "wallets"))
    assert wallets.count() > 0 and "_key" in wallets.columns
    tokens = spark.read.parquet(str(tmp_path / "tokens"))
    assert tokens.count() == 3 and "dappChanges" in tokens.columns
    dapps = spark.read.parquet(str(tmp_path / "dapps"))
    assert dapps.count() > 0 and "_key" in dapps.columns


def test_cli_ingest_overlapping_ranges_keeps_one_row_per_key(spark, tmp_path):
    """Two block ranges that overlap land in the key-bucketed transfers
    table once per key: the overlap's rows are upserted, not appended."""
    raw_pdf = fixtures.make_raw_transfer_events_pdf(n_rows=200)
    fixtures.raw_transfer_events_df(spark, n_rows=200).write.parquet(str(tmp_path / "raw"))
    fixtures.block_timestamps_df(spark, raw_pdf).write.parquet(str(tmp_path / "blocks"))
    edges = str(tmp_path / "edges")
    lo, hi = int(raw_pdf["block_number"].min()), int(raw_pdf["block_number"].max())
    mid = (lo + hi) // 2
    overlap = raw_pdf["block_number"].between(mid - 2_000, mid + 2_000).sum()
    assert overlap > 0
    for lower, upper in [(lo, mid + 2_000), (mid - 2_000, hi)]:
        cli.main(
            ["ingest", "--raw", str(tmp_path / "raw"), "--blocks", str(tmp_path / "blocks"),
             "--out", edges, "--lower", str(lower), "--upper", str(upper)]
        )
    assert "_bucket" in spark.read.parquet(edges).columns  # the bucketed layout
    got = read_upserted(spark, edges)
    assert got.count() == got.select("_key").distinct().count() == 200


def test_cli_corpus_pipeline(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog by the river"),
            (1, "the quick brown fox jumps over the lazy dog by the stream"),
            (2, "THE  quick brown fox jumps over the lazy dog by the river"),
            (3, "entirely different text about distributed query engines"),
            (4, "z"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    cli.main(
        ["corpus", "--documents", str(tmp_path / "docs"),
         "--out", str(tmp_path / "decisions"), "--jaccard-threshold", "0.5"]
    )
    decisions = spark.read.parquet(str(tmp_path / "decisions"))
    d = {r.doc_id: r for r in decisions.collect()}
    assert len(d) == 5
    assert d[0].keep and d[3].keep
    assert not d[2].keep  # exact dup
    assert not d[1].keep  # near dup
    assert not d[4].keep  # quality

    cli.main(
        ["corpus", "--documents", str(tmp_path / "docs"),
         "--out", str(tmp_path / "decisions2"), "--jaccard-threshold", "0.5",
         "--large-clusters"]
    )
    d2 = {r.doc_id: r.keep for r in spark.read.parquet(str(tmp_path / "decisions2")).collect()}
    assert d2 == {k: r.keep for k, r in d.items()}


def test_cli_semdedup_and_select(spark, sf_dir, tmp_path):
    from token_etl_spark.io.sources import load_table

    load_table(spark, sf_dir, "embeddings").write.parquet(str(tmp_path / "emb"))
    cli.main(
        ["semdedup", "--embeddings", str(tmp_path / "emb"),
         "--out", str(tmp_path / "sem"), "--centroids", "8", "--iters", "1"]
    )
    sem = spark.read.parquet(str(tmp_path / "sem"))
    assert sem.count() == 500
    assert set(sem.columns) == {"id", "centroid_id", "centroid_sim", "n_dups", "kept"}

    load_table(spark, sf_dir, "documents").write.parquet(str(tmp_path / "docs_sel"))
    cli.main(
        ["select", "--documents", str(tmp_path / "docs_sel"),
         "--out", str(tmp_path / "scores"), "--target-sources", "src0,src1",
         "--buckets", "128", "--fit-out", str(tmp_path / "wtab")]
    )
    scores = spark.read.parquet(str(tmp_path / "scores"))
    assert scores.count() == 500
    wtab = spark.read.parquet(str(tmp_path / "wtab"))
    assert wtab.count() <= 128
    assert {"bucket", "w", "t_total", "r_total"} <= set(wtab.columns)


def test_cli_spandedup_and_lmscore(spark, sf_dir, tmp_path):
    from token_etl_spark.cli import main
    from token_etl_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    staged = str(tmp_path / "docs_in")
    docs.write.parquet(staged)

    out1 = str(tmp_path / "span_out")
    main(["spandedup", "--documents", staged, "--out", out1, "--k", "8"])
    got = spark.read.parquet(out1)
    assert got.count() == docs.count()
    assert set(got.columns) == {"id", "n_tokens", "n_removed", "cleaned"}

    out2 = str(tmp_path / "lm_out")
    main(["lmscore", "--documents", staged, "--out", out2,
          "--reference-sources", "src0,src1"])
    got2 = spark.read.parquet(out2)
    assert got2.count() == docs.count()
    assert set(got2.columns) == {"doc_id", "source", "n_bigrams", "score", "avg_p"}


def test_cli_query_runner(spark, sf_dir, tmp_path, capsys):
    # --list needs no session and filters by tag
    cli.main(["query", "--list", "--tag", "sketch"])
    listed = capsys.readouterr().out
    assert "ext_hll_distinct" in listed and "ext_countmin_freqs" in listed
    # run one query to parquet and one to stdout
    out = str(tmp_path / "q_out")
    cli.main(["query", "ext_hll_distinct", "--data", sf_dir, "--out", out])
    got = spark.read.parquet(out)
    assert got.count() > 0 and "hll_est" in got.columns
    cli.main(["query", "tpch_priority_counts", "--data", sf_dir, "--show", "3"])
    assert "o_orderpriority" in capsys.readouterr().out


def test_cli_mixture(spark, sf_dir, tmp_path, capsys):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_path = str(tmp_path / "bench")
    import pyspark.sql.functions as F
    docs.where(F.col("doc_id") % 97 == 0).write.parquet(bench_path)
    out = str(tmp_path / "manifest")
    cli.main(
        ["mixture", "--documents", f"{sf_dir}/documents.parquet",
         "--benchmark", bench_path, "--weights", "src0=2.0",
         "--budget-tokens", "2000", "--pack-budget", "256",
         "--shards", "4", "--out", out]
    )
    printed = capsys.readouterr().out
    assert "n_copies" in printed
    manifest = spark.read.parquet(out)
    assert manifest.count() > 0
    assert set(manifest.columns) == {
        "doc_id", "source", "epoch", "shard", "seq_id", "n_tokens", "start_offset"
    }


def test_cli_mixture_prepare_composition(spark, sf_dir, tmp_path, capsys):
    """One CLI call runs prepare_corpus and mixes only its keep-list."""
    out = str(tmp_path / "manifest_prep")
    cli.main(
        ["mixture", "--documents", f"{sf_dir}/documents.parquet",
         "--prepare", "--pack-budget", "512", "--shards", "4", "--out", out]
    )
    manifest = spark.read.parquet(out)
    from token_etl_spark.pipelines.corpus import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = {r["doc_id"] for r in prepare_corpus(docs).where("keep").collect()}
    got = {r["doc_id"] for r in manifest.collect()}
    assert got == kept

    import pytest

    with pytest.raises(SystemExit, match="mutually exclusive"):
        cli.main(
            ["mixture", "--documents", f"{sf_dir}/documents.parquet",
             "--prepare", "--decisions", out, "--out", out]
        )


def test_cli_shards(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "cli_shards")
    cli.main([
        "shards",
        "--documents", f"{sf_dir}/documents.parquet",
        "--out", out,
        "--tokens-per-shard", "1000",
    ])
    printed = capsys.readouterr().out
    assert "n_shards" in printed and "n_tokens" in printed
    man = spark.read.parquet(f"{out}/manifest")
    data = spark.read.parquet(f"{out}/data")
    assert man.count() > 1
    assert data.count() == spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def test_cli_corpus_ingest_flags(spark, tmp_path):
    """--extract-html/--url-col/--repetition-filter drive the crawl-
    ingest tier end-to-end from the CLI."""
    chrome = '<html><body><nav><a href="/">Home</a> <a href="/a">About page</a></nav>'
    docs = spark.createDataFrame(
        [
            (0, chrome + "<p>the quick brown fox jumps over a lazy dog while "
                "seven animals watch quietly from the distant hillside at "
                "dusk</p></body></html>", "https://good.com/0"),
            (1, chrome + "<p>" + "the spam line is here today ok " * 20
                + "</p></body></html>", "https://good.com/1"),
        ],
        "doc_id long, text string, url string",
    )
    docs.write.parquet(str(tmp_path / "crawl"))
    cli.main(
        ["corpus", "--documents", str(tmp_path / "crawl"),
         "--out", str(tmp_path / "ingest_dec"),
         "--extract-html", "--url-col", "url", "--repetition-filter"]
    )
    d = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "ingest_dec")).collect()}
    assert d[0].keep and d[0].domain_kept and d[0].passed_repetition
    assert not d[1].keep and not d[1].passed_repetition


def test_cli_corpus_domain_stats_provenance(spark, tmp_path):
    """--domain-stats pointing at a save_domain_stats provenance tree
    routes through load_domain_stats: a psl-fit frame applied under the
    CLI's lite rule REFUSES instead of silently flagging every ccTLD
    document domain_kept=False, and --domain-suffixes supplies the
    matching rule (ADVICE r12 medium). A bare parquet frame still loads
    as-is."""
    import pytest

    from token_etl_spark.operators.curation import (
        domain_stats,
        fit_and_save_domain_stats,
        save_domain_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "a good long document " * 5, "https://bbc.co.uk/0"),
            (1, "another fine document " * 5, "https://bbc.co.uk/1"),
        ],
        "doc_id long, text string, url string",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    psl = spark.createDataFrame([("com",), ("co.uk",)], ["suffix"])
    psl.write.parquet(str(tmp_path / "psl"))

    tree = str(tmp_path / "stats_tree")
    fit_and_save_domain_stats(spark, docs, tree, suffixes=psl)

    # psl-fit tree under the CLI's lite rule → loud refusal
    with pytest.raises(ValueError, match="mismatched registered-domain"):
        cli.main(
            ["corpus", "--documents", str(tmp_path / "docs"),
             "--out", str(tmp_path / "dec_bad"),
             "--url-col", "url", "--domain-stats", tree]
        )
    # with the matching --domain-suffixes the gate applies precisely
    cli.main(
        ["corpus", "--documents", str(tmp_path / "docs"),
         "--out", str(tmp_path / "dec_ok"),
         "--url-col", "url", "--domain-stats", tree,
         "--domain-suffixes", str(tmp_path / "psl")]
    )
    rows = spark.read.parquet(str(tmp_path / "dec_ok")).collect()
    assert all(r["domain_kept"] for r in rows)
    assert {r["domain"] for r in rows} == {"bbc.co.uk"}

    # a bare parquet frame (no params) loads raw, as before
    bare = str(tmp_path / "stats_bare")
    domain_stats(docs).write.parquet(bare)
    cli.main(
        ["corpus", "--documents", str(tmp_path / "docs"),
         "--out", str(tmp_path / "dec_bare"),
         "--url-col", "url", "--domain-stats", bare]
    )
    rows = spark.read.parquet(str(tmp_path / "dec_bare")).collect()
    assert all(r["domain_kept"] for r in rows)

    # lite-fit provenance tree + no suffixes → loads fine
    lite_tree = str(tmp_path / "stats_lite_tree")
    save_domain_stats(spark, domain_stats(docs), lite_tree)
    cli.main(
        ["corpus", "--documents", str(tmp_path / "docs"),
         "--out", str(tmp_path / "dec_lite"),
         "--url-col", "url", "--domain-stats", lite_tree]
    )
    assert spark.read.parquet(str(tmp_path / "dec_lite")).count() == 2


def test_cli_domainstats_refresh(spark, tmp_path, capsys):
    """domainstats drives refresh_domain_stats: first call fits, second
    refreshes under the preserved rule, a rule change refuses without
    --allow-rule-change."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"https://good.com/{i}") for i in range(6)],
        "doc_id long, url string",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    psl = spark.createDataFrame([("com",), ("co.uk",)], ["suffix"])
    psl.write.parquet(str(tmp_path / "psl"))
    tree = str(tmp_path / "rep_tree")

    cli.main(["domainstats", "--documents", str(tmp_path / "docs"), "--out", tree])
    assert "'n_domains': 1" in capsys.readouterr().out
    cli.main(["domainstats", "--documents", str(tmp_path / "docs"), "--out", tree])
    assert "'n_domains': 1" in capsys.readouterr().out
    with pytest.raises(ValueError, match="allow_rule_change"):
        cli.main(["domainstats", "--documents", str(tmp_path / "docs"),
                  "--out", tree, "--domain-suffixes", str(tmp_path / "psl")])
    cli.main(["domainstats", "--documents", str(tmp_path / "docs"),
              "--out", tree, "--domain-suffixes", str(tmp_path / "psl"),
              "--allow-rule-change"])
    assert "'n_domains': 1" in capsys.readouterr().out


def test_cli_shardmaint(spark, sf_dir, tmp_path, capsys):
    """audit/split/compact drive the shard-maintenance levers from the
    CLI: a clean export audits all-ok, split adds a shard, and the
    post-split audit stays clean."""
    out = str(tmp_path / "cli_maint")
    cli.main([
        "shards",
        "--documents", f"{sf_dir}/documents.parquet",
        "--out", out,
        "--tokens-per-shard", "1000",
    ])
    capsys.readouterr()
    cli.main(["shardmaint", "--path", out, "--action", "audit"])
    printed = capsys.readouterr().out
    assert "'ok'" in printed and "drift" not in printed

    man = spark.read.parquet(f"{out}/manifest")
    n_before = man.count()
    target = (
        man.where(F.col("n_docs") >= 2)
        .orderBy(F.col("shard_tokens").desc(), F.col("shard_id"))
        .first()["shard_id"]
    )
    cli.main(["shardmaint", "--path", out, "--action", "split",
              "--shard-id", str(target)])
    printed = capsys.readouterr().out
    assert f"'n_shards': {n_before + 1}" in printed
    cli.main(["shardmaint", "--path", out, "--action", "audit"])
    printed = capsys.readouterr().out
    assert "'ok'" in printed and "drift" not in printed
    # compact with no increments is a clean no-op
    cli.main(["shardmaint", "--path", out, "--action", "compact"])
    printed = capsys.readouterr().out
    assert f"'n_shards': {n_before + 1}" in printed

    # merge the split halves back: the triad's third lever, from the CLI
    new_sid = int(
        spark.read.parquet(f"{out}/manifest").agg(F.max("shard_id")).collect()[0][0]
    )
    cli.main(["shardmaint", "--path", out, "--action", "merge",
              "--shard-id", str(target), "--shard-id-b", str(new_sid)])
    printed = capsys.readouterr().out
    assert f"'n_shards': {n_before}" in printed
    cli.main(["shardmaint", "--path", out, "--action", "audit"])
    printed = capsys.readouterr().out
    assert "'ok'" in printed and "drift" not in printed

    # plan: recommendations against the export's RECORDED budget
    cli.main(["shardmaint", "--path", out, "--action", "plan"])
    printed = capsys.readouterr().out
    assert "'tokens_per_shard': 1000" in printed
    assert "action_counts" in printed


def test_cli_shardmaint_plan_reads_committed_and_flags_increments(
    spark, sf_dir, tmp_path, capsys, monkeypatch
):
    """ADVICE r13: the plan branch must (a) plan against a committed-
    but-unfinished staged commit as committed — read in place, changing
    nothing on disk, so it never races a writer's heal — and (b) flag
    un-compacted incoming/ increments the manifest-only arithmetic does
    not count."""
    import glob
    import os

    import token_etl_spark.io.sinks as sinks

    out = str(tmp_path / "cli_plan_heal")
    cli.main([
        "shards",
        "--documents", f"{sf_dir}/documents.parquet",
        "--out", out,
        "--tokens-per-shard", "1000",
    ])
    capsys.readouterr()
    man = spark.read.parquet(f"{out}/manifest")
    n_before = man.count()
    target = (
        man.where(F.col("n_docs") >= 2)
        .orderBy(F.col("shard_tokens").desc(), F.col("shard_id"))
        .first()["shard_id"]
    )
    # crash a split AFTER the marker: staging is a committed layout
    real_apply = sinks._apply_shard_layout
    monkeypatch.setattr(sinks, "_apply_shard_layout", lambda *a, **k: None)
    try:
        sinks.split_shard(spark, out, target)
    finally:
        monkeypatch.setattr(sinks, "_apply_shard_layout", real_apply)
    assert glob.glob(f"{out}.staging-shards/_LAYOUT_COMMITTED")

    # the plan reads the committed staging: its rows cover the POST-split
    # manifest, and the staging stays for the writers' heal
    cli.main(["shardmaint", "--path", out, "--action", "plan"])
    printed = capsys.readouterr().out
    assert "action_counts" in printed
    counts = eval(printed.splitlines()[0])["action_counts"]  # noqa: S307
    assert sum(counts.values()) == n_before + 1
    assert glob.glob(f"{out}.staging-shards/_LAYOUT_COMMITTED")
    sinks._heal_shard_layout(spark, out)
    assert not glob.glob(f"{out}.staging-shards*")

    # marker-less staging (in-flight writer) survives a plan
    os.makedirs(f"{out}.staging-shards/shard_id=777", exist_ok=True)
    with open(f"{out}.staging-shards/shard_id=777/partial", "w") as f:
        f.write("x")
    cli.main(["shardmaint", "--path", out, "--action", "plan"])
    capsys.readouterr()
    assert glob.glob(f"{out}.staging-shards/shard_id=777/partial")
    import shutil

    shutil.rmtree(f"{out}.staging-shards")

    # a leftover EMPTY incoming/ (no shard_id=* under any batch dir)
    # must NOT produce the 'run compact first' warning (ADVICE r14)
    os.makedirs(f"{out}/incoming/batch=empty", exist_ok=True)
    cli.main(["shardmaint", "--path", out, "--action", "plan"])
    printed = capsys.readouterr().out
    assert "pending_increments" not in printed

    # un-compacted increments are surfaced beside the summary
    os.makedirs(f"{out}/incoming/batch=0/shard_id=0", exist_ok=True)
    cli.main(["shardmaint", "--path", out, "--action", "plan"])
    printed = capsys.readouterr().out
    assert "'pending_increments': True" in printed
    assert "compact" in printed


def test_cli_shardmaint_apply(spark, sf_dir, tmp_path, capsys):
    """shardmaint apply drives the composed executor from the CLI: the
    loop converges under the budget cap and reports applied/skipped
    counts plus the per-action log."""
    out = str(tmp_path / "cli_apply")
    cli.main([
        "shards",
        "--documents", f"{sf_dir}/documents.parquet",
        "--out", out,
        "--tokens-per-shard", "3000",
    ])
    capsys.readouterr()
    n_before = spark.read.parquet(f"{out}/manifest").count()
    # budget-capped: exactly 2 levers pull
    cli.main(["shardmaint", "--path", out, "--action", "apply",
              "--split-factor", "1", "--max-actions", "2"])
    printed = capsys.readouterr().out
    head = eval(printed.splitlines()[0])  # noqa: S307
    assert head["applied"] == 2 and head["skipped"] == 0
    assert not head["converged"]
    # uncapped: converge (splits under split_factor=1, the export's
    # recorded budget 3000 adopted from params)
    cli.main(["shardmaint", "--path", out, "--action", "apply",
              "--split-factor", "1", "--max-actions", "64"])
    printed = capsys.readouterr().out
    head = eval(printed.splitlines()[0])  # noqa: S307
    assert head["converged"]
    man = spark.read.parquet(f"{out}/manifest").collect()
    assert len(man) > n_before
    for r in man:
        assert r["shard_tokens"] <= 3000 or r["n_docs"] == 1
