"""CLI entry points for the four pipelines (SURVEY §3 lifecycle).

The reference runs each enricher as a Scala App whose body executes at
class-init (BaseEnricher.scala:17); here each is an explicit subcommand
over parquet paths:

    python -m token_etl_spark.cli ingest   --raw R --blocks B --out O [--lower N --upper N]
    python -m token_etl_spark.cli wallets  --transfers T --metadata M --out O
    python -m token_etl_spark.cli tokens   --transfers T --metadata M [--dapps D] --out O
    python -m token_etl_spark.cli dapps    --transfers T --registry D --out O

``ingest`` upserts its block range into the key-bucketed transfers table
(``pipelines/transfers.ingest_ranges``, retried on failure); read it back
with ``io/sinks.read_upserted``.

Plus the training-corpus extension pipelines:

    python -m token_etl_spark.cli corpus   --documents P --out O
        [--jaccard-threshold F] [--large-clusters] [--dedup-lines]
        [--dedup-spans [--span-k N]]
    python -m token_etl_spark.cli semdedup --embeddings P --out O
        [--centroids N] [--iters N] [--threshold F] [--d4 [--drop-pct N]]
    python -m token_etl_spark.cli select   --documents P --out O
        [--target-sources s0,s1] [--buckets N] [--fit-out P]
    python -m token_etl_spark.cli spandedup --documents P --out O
        [--k N] [--stats-only]
    python -m token_etl_spark.cli lmscore  --documents P --out O
        [--reference-sources s0,s1]

    python -m token_etl_spark.cli mixture  --documents P --out O
        [--benchmark P [--exact-decon]] [--target-sources s0,s1 --top-pct F]
        [--budget-tokens N] [--weights src0=2.5,src1=0.4]
        [--pack-budget N] [--shards N]

And a generic runner for any declared query in the registry (the full
analytic surface — TPC-H-style, corpus curation, sketches, ANN, BM25):

    python -m token_etl_spark.cli query NAME --data SF_DIR [--out O] [--show N]
    python -m token_etl_spark.cli query --list [--tag TAG]
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from token_etl_spark.io.sinks import write_parquet
from token_etl_spark.io.sources import read_json_registry
from token_etl_spark.session import get_spark


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="token_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest")
    ing.add_argument("--raw", required=True)
    ing.add_argument("--blocks", required=True)
    ing.add_argument("--out", required=True)
    ing.add_argument("--lower", type=int)
    ing.add_argument("--upper", type=int)

    wal = sub.add_parser("wallets")
    wal.add_argument("--transfers", required=True)
    wal.add_argument("--metadata", required=True)
    wal.add_argument("--out", required=True)

    tok = sub.add_parser("tokens")
    tok.add_argument("--transfers", required=True)
    tok.add_argument("--metadata", required=True)
    tok.add_argument("--dapps")
    tok.add_argument("--out", required=True)

    dap = sub.add_parser("dapps")
    dap.add_argument("--transfers", required=True)
    dap.add_argument("--registry", required=True)
    dap.add_argument("--out", required=True)

    cor = sub.add_parser("corpus")
    cor.add_argument("--documents", required=True)
    cor.add_argument("--out", required=True)
    cor.add_argument("--jaccard-threshold", type=float, default=0.6)
    cor.add_argument("--large-clusters", action="store_true")
    cor.add_argument("--dedup-lines", action="store_true")
    cor.add_argument("--dedup-spans", action="store_true")
    cor.add_argument("--span-k", type=int, default=8)
    cor.add_argument(
        "--extract-html",
        action="store_true",
        help="run HTML boilerplate extraction FIRST — every downstream "
        "stage keys off the extracted text, not the raw markup",
    )
    cor.add_argument(
        "--url-col",
        help="enable the domain-reputation gate on this URL column "
        "(pruned domains never reach per-document compute)",
    )
    cor.add_argument(
        "--domain-stats",
        help="path of a precomputed domain_stats frame: either a "
        "save_domain_stats provenance tree (stats+params — loaded via "
        "load_domain_stats, which validates the recorded "
        "registered-domain rule against --domain-suffixes and refuses "
        "a mismatch) or a bare parquet frame (no recorded rule — the "
        "caller vouches it was fit under the same --domain-suffixes "
        "setting). Required for the quality/dup-rate bounds",
    )
    cor.add_argument(
        "--domain-suffixes",
        help="parquet path of a public-suffix table (one 'suffix' "
        "string column) selecting the precise registered-domain rule "
        "for the gate; omitted = the public-suffix-LITE rule. Must "
        "match the rule --domain-stats was fit under",
    )
    cor.add_argument("--domain-min-docs", type=int, default=1)
    cor.add_argument("--min-domain-quality", type=float)
    cor.add_argument("--max-domain-dup-rate", type=float)
    cor.add_argument(
        "--repetition-filter",
        action="store_true",
        help="apply the Gopher repetition gates before the dedup tiers",
    )

    sem = sub.add_parser("semdedup")
    sem.add_argument("--embeddings", required=True)
    sem.add_argument("--out", required=True)
    sem.add_argument("--centroids", type=int, default=16)
    sem.add_argument("--iters", type=int, default=2)
    sem.add_argument("--threshold", type=float, default=0.3)
    sem.add_argument(
        "--d4",
        action="store_true",
        help="run full D4 (SemDeDup + prototype drop, one shared training run)",
    )
    sem.add_argument("--drop-pct", type=int, default=25)
    sem.add_argument(
        "--n-assign",
        type=int,
        default=1,
        help="probe top-n cells in the pair search (closes the cluster-"
        "boundary blind spot at n_assign^2 candidate cost)",
    )

    sel = sub.add_parser("select")
    sel.add_argument("--documents", required=True)
    sel.add_argument("--out", required=True)
    sel.add_argument("--target-sources", default="src0")
    sel.add_argument("--buckets", type=int, default=512)
    sel.add_argument("--fit-out", help="also persist the bucket→weight table")

    spn = sub.add_parser("spandedup")
    spn.add_argument("--documents", required=True)
    spn.add_argument("--out", required=True)
    spn.add_argument("--k", type=int, default=8)
    spn.add_argument(
        "--stats-only",
        action="store_true",
        help="report duplicated-span coverage without rewriting the text",
    )

    lm = sub.add_parser("lmscore")
    lm.add_argument("--documents", required=True)
    lm.add_argument("--out", required=True)
    lm.add_argument("--reference-sources", default="src0")

    mix = sub.add_parser("mixture")
    mix.add_argument("--documents", required=True)
    mix.add_argument("--out", required=True)
    mix.add_argument(
        "--prepare",
        action="store_true",
        help="run prepare_corpus (quality gate + exact/near dedup) first "
        "and mix only its keep-list",
    )
    mix.add_argument(
        "--decisions",
        default=None,
        help="parquet decision frame from a prior `corpus` run "
        "(doc_id, ..., keep) — mutually exclusive with --prepare",
    )
    mix.add_argument("--benchmark", default=None)
    mix.add_argument("--exact-decon", action="store_true")
    mix.add_argument("--target-sources", default=None)
    mix.add_argument("--top-pct", type=float, default=None)
    mix.add_argument("--budget-tokens", type=int, default=None)
    mix.add_argument("--weights", default=None, help="src0=2.5,src1=0.4")
    mix.add_argument("--pack-budget", type=int, default=2048)
    mix.add_argument("--shards", type=int, default=256)

    shd = sub.add_parser("shards")
    shd.add_argument("--documents", required=True)
    shd.add_argument("--out", required=True)
    shd.add_argument("--tokens-per-shard", type=int, default=1_000_000)
    shd.add_argument("--key-col", default="doc_id")
    shd.add_argument("--token-col", default=None)
    shd.add_argument("--seed", default="s0")

    dst = sub.add_parser("domainstats")
    dst.add_argument("--documents", required=True, help="current corpus parquet")
    dst.add_argument("--out", required=True, help="reputation tree path (save_domain_stats layout)")
    dst.add_argument("--url-col", default="url")
    dst.add_argument("--quality-col")
    dst.add_argument("--dup-col")
    dst.add_argument(
        "--domain-suffixes",
        help="public-suffix table parquet (one 'suffix' column) — must "
        "match the rule the existing tree was fit under",
    )
    dst.add_argument(
        "--allow-rule-change",
        action="store_true",
        help="deliberately migrate the registered-domain rule (continuing "
        "streams refuse loudly on their next batch instead of silently "
        "matching nothing)",
    )

    shm = sub.add_parser("shardmaint")
    shm.add_argument("--path", required=True, help="an export_shards tree")
    shm.add_argument(
        "--action",
        required=True,
        choices=("audit", "compact", "split", "merge", "plan", "apply"),
        help="audit: manifest-vs-disk integrity report; compact: fold "
        "stream increments into the base tree; split: divide one "
        "over-budget shard's key range (requires --shard-id); merge: "
        "fold two ADJACENT undersized ranges into one (requires "
        "--shard-id and --shard-id-b); plan: per-shard split/merge "
        "recommendations against the export's recorded token budget; "
        "apply: drive plan -> lever -> re-plan to convergence "
        "(budget-capped by --max-actions, refusals skipped)",
    )
    shm.add_argument("--shard-id", type=int, default=None)
    shm.add_argument("--shard-id-b", type=int, default=None)
    shm.add_argument(
        "--max-actions",
        type=int,
        default=None,
        help="hard cap on levers pulled by --action apply (default 16; "
        "rejected on other actions)",
    )
    shm.add_argument(
        "--split-factor",
        type=int,
        default=None,
        help="apply: split any shard holding more than this multiple "
        "of the recorded token budget (default 2; rejected on other "
        "actions)",
    )

    qry = sub.add_parser("query")
    qry.add_argument("name", nargs="?", default=None)
    qry.add_argument("--data", default="/root/testdata/sf0.001")
    qry.add_argument("--out", default=None)
    qry.add_argument("--show", type=int, default=20)
    qry.add_argument("--list", action="store_true", dest="list_queries")
    qry.add_argument("--tag", default=None)

    args = p.parse_args(argv)

    if args.cmd == "query" and args.list_queries:
        # listing needs no SparkSession — keep it instant
        from token_etl_spark.plans.registry import SPECS

        for name, spec in SPECS.items():
            if args.tag is None or args.tag in spec.tags:
                print(f"{name}\t{','.join(spec.tags)}")
        return

    spark = get_spark(f"token_etl_spark_{args.cmd}")

    if args.cmd == "mixture":
        from token_etl_spark.pipelines.mixture import build_mixture

        docs = spark.read.parquet(args.documents)
        if args.prepare and args.decisions:
            raise SystemExit("--prepare and --decisions are mutually exclusive")
        decisions = None
        if args.prepare:
            from token_etl_spark.pipelines.corpus import prepare_corpus

            decisions = prepare_corpus(docs)
        elif args.decisions:
            decisions = spark.read.parquet(args.decisions)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        weights = (
            {
                kv.split("=")[0]: float(kv.split("=")[1])
                for kv in args.weights.split(",")
            }
            if args.weights
            else None
        )
        manifest = build_mixture(
            docs,
            decisions=decisions,
            benchmark=bench,
            use_bloom=not args.exact_decon,
            target_sources=(
                tuple(args.target_sources.split(",")) if args.target_sources else None
            ),
            select_top_pct=args.top_pct,
            budget_tokens=args.budget_tokens,
            weights=weights,
            pack_budget=args.pack_budget,
            n_shards=args.shards,
        )
        write_parquet(manifest, args.out)
        summary = (
            spark.read.parquet(args.out)
            .groupBy("source")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count("*").alias("n_copies"),
                F.sum("n_tokens").alias("tokens"),
            )
        )
        for row in summary.orderBy("source").collect():
            print(row.asDict())
        return

    if args.cmd == "shards":
        from token_etl_spark.io.sinks import export_shards

        docs = spark.read.parquet(args.documents)
        manifest = export_shards(
            spark,
            docs,
            args.out,
            tokens_per_shard=args.tokens_per_shard,
            key_col=args.key_col,
            token_col=args.token_col,
            seed=args.seed,
        )
        stats = manifest.agg(
            F.count("*").alias("n_shards"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("shard_tokens").alias("n_tokens"),
            F.min("shard_tokens").alias("min_shard_tokens"),
            F.max("shard_tokens").alias("max_shard_tokens"),
        ).collect()[0]
        print(stats.asDict())
        return

    if args.cmd == "domainstats":
        from token_etl_spark.operators.curation import refresh_domain_stats

        refreshed = refresh_domain_stats(
            spark,
            spark.read.parquet(args.documents),
            args.out,
            url_col=args.url_col,
            quality_col=args.quality_col,
            dup_col=args.dup_col,
            suffixes=(
                spark.read.parquet(args.domain_suffixes)
                if args.domain_suffixes
                else None
            ),
            allow_rule_change=args.allow_rule_change,
        )
        print({"n_domains": refreshed.count()})
        return
    if args.cmd == "shardmaint":
        from token_etl_spark.io.sinks import (
            audit_shard_layout,
            compact_incremental_shards,
            merge_shards,
            split_shard,
        )

        # argument validation runs for EVERY action — the apply branch
        # used to return before these checks, silently ignoring a
        # passed --shard-id (ADVICE r14)
        if args.action not in ("split", "merge") and args.shard_id is not None:
            raise SystemExit(
                f"--shard-id is only meaningful with --action split/merge, not {args.action}"
            )
        if args.action != "merge" and args.shard_id_b is not None:
            raise SystemExit(
                f"--shard-id-b is only meaningful with --action merge, not {args.action}"
            )
        if args.action != "apply":
            if args.max_actions is not None:
                raise SystemExit(
                    f"--max-actions is only meaningful with --action apply, not {args.action}"
                )
            if args.split_factor is not None:
                raise SystemExit(
                    f"--split-factor is only meaningful with --action apply, not {args.action}"
                )
        if args.action == "apply":
            from token_etl_spark.io.sinks import apply_shard_maintenance

            max_actions = 16 if args.max_actions is None else args.max_actions
            manifest, log, reason = apply_shard_maintenance(
                spark,
                args.path,
                split_factor=2 if args.split_factor is None else args.split_factor,
                max_actions=max_actions,
            )
            print({
                "n_shards": manifest.count(),
                "applied": sum(1 for a in log if a["status"] == "ok"),
                "skipped": sum(1 for a in log if a["status"] == "skipped"),
                # explicit termination reason from the loop itself — the
                # old applied < max_actions inference reported converged
                # on a stalled (all-refused) loop and not-converged on a
                # plan that reached all-ok on its last allowed action
                # (ADVICE r14)
                "reason": reason,
                "converged": reason == "converged",
            })
            for a in log:
                print(a)
            return
        if args.action == "audit":
            # the report is shard-cardinality: collect ONCE and derive
            # both views in Python — re-evaluating the frame would
            # re-run the whole-corpus aggregation per view
            rows = [r.asDict() for r in audit_shard_layout(spark, args.path).collect()]
            counts: dict[str, int] = {}
            for r in rows:
                counts[r["status"]] = counts.get(r["status"], 0) + 1
            print({"status_counts": counts})
            for r in rows:
                if r["status"] != "ok":
                    print(r)
        elif args.action == "compact":
            manifest = compact_incremental_shards(spark, args.path)
            print({"n_shards": manifest.count()})
        elif args.action == "merge":
            if args.shard_id is None or args.shard_id_b is None:
                raise SystemExit("--action merge requires --shard-id and --shard-id-b")
            manifest = merge_shards(spark, args.path, args.shard_id, args.shard_id_b)
            print({"n_shards": manifest.count()})
        elif args.action == "plan":
            from token_etl_spark.io.sinks import _bucket_fs, _committed_shard_layout
            from token_etl_spark.operators.curation import plan_shard_maintenance

            # plan against the committed layout, read in place: a
            # crash-cut split/compaction counts as committed, and the
            # plan changes nothing on disk
            layout = _committed_shard_layout(spark, args.path)
            # adopt the budget the export was fit with — its params table
            # records tokens_per_shard beside key_col/seed (the router's
            # adopt-or-refuse discipline, read side)
            tps = int(
                spark.read.parquet(f"{args.path.rstrip('/')}/params")
                .collect()[0]["tokens_per_shard"]
            )
            manifest = spark.read.parquet(layout["manifest"])
            rows = [
                r.asDict()
                for r in plan_shard_maintenance(manifest, tps).collect()
            ]
            counts: dict[str, int] = {}
            for r in rows:
                counts[r["action"]] = counts.get(r["action"], 0) + 1
            # the plan is manifest-only arithmetic: un-compacted stream
            # increments under incoming/ are NOT in shard_tokens (audit
            # accounts them; the plan would understate) — surface that
            # so the operator compacts before trusting the numbers
            # (ADVICE r13)
            fs, hpath = _bucket_fs(spark, args.path)
            # pending only when some batch dir actually holds a
            # shard_id=* increment — a leftover EMPTY incoming/ dir
            # would otherwise emit a false 'run compact first' warning
            # (mirror _refuse_pending_increments' listing; ADVICE r14)
            incp = hpath(f"{args.path.rstrip('/')}/incoming")
            has_inc = layout["incoming"] and fs.exists(incp) and any(
                st.isDirectory()
                and any(
                    s.isDirectory()
                    and s.getPath().getName().startswith("shard_id=")
                    for s in fs.listStatus(st.getPath())
                )
                for st in fs.listStatus(incp)
            )
            summary = {"tokens_per_shard": tps, "action_counts": counts}
            if has_inc:
                summary["pending_increments"] = True
                summary["note"] = (
                    "incoming/ holds un-compacted stream increments the "
                    "manifest-only plan does not count — run "
                    "'shardmaint --action compact' first"
                )
            print(summary)
            for r in rows:
                if r["action"] != "ok":
                    print(r)
        else:
            if args.shard_id is None:
                raise SystemExit("--action split requires --shard-id")
            manifest = split_shard(spark, args.path, args.shard_id)
            print({"n_shards": manifest.count()})
        return

    if args.cmd == "query":
        from token_etl_spark.plans.registry import SPECS

        if args.name is None or args.name not in SPECS:
            raise SystemExit(
                f"unknown query {args.name!r}; use --list to enumerate"
            )
        df = SPECS[args.name].fn(spark, args.data)
        if args.out:
            write_parquet(df, args.out)
        else:
            df.show(args.show, truncate=False)
        return

    if args.cmd == "ingest":
        from token_etl_spark.pipelines.transfers import enrich_transfers, ingest_ranges

        raw = spark.read.parquet(args.raw)
        blocks = spark.read.parquet(args.blocks)
        ingest_ranges(
            spark,
            [(args.lower, args.upper)],
            lambda lo, hi: enrich_transfers(raw, blocks, lo, hi),
            args.out,
        )
    elif args.cmd == "wallets":
        from token_etl_spark.pipelines.wallets import wallet_balance_changelogs

        out = wallet_balance_changelogs(
            spark.read.parquet(args.transfers), spark.read.parquet(args.metadata)
        )
        write_parquet(out, args.out)
    elif args.cmd == "tokens":
        from token_etl_spark.pipelines.tokens import enhance_tokens

        registry = read_json_registry(spark, args.dapps) if args.dapps else None
        out = enhance_tokens(
            spark.read.parquet(args.transfers), spark.read.parquet(args.metadata), registry
        )
        write_parquet(out, args.out)
    elif args.cmd == "dapps":
        from token_etl_spark.pipelines.dapps_pipeline import enrich_dapps

        out = enrich_dapps(
            spark.read.parquet(args.transfers), read_json_registry(spark, args.registry)
        )
        write_parquet(out, args.out)
    elif args.cmd == "corpus":
        from token_etl_spark.operators.curation import (
            is_saved_domain_stats,
            load_domain_stats,
        )
        from token_etl_spark.pipelines.corpus import corpus_summary, prepare_corpus

        suffixes = (
            spark.read.parquet(args.domain_suffixes)
            if args.domain_suffixes
            else None
        )
        stats = None
        if args.domain_stats:
            # a save_domain_stats provenance tree goes through the
            # validated loader — reading <path> raw would bypass the
            # fit/apply rule check and a psl-fit frame applied under
            # the CLI's rule would silently flag every ccTLD document
            # domain_kept=False (ADVICE r12); a bare parquet frame has
            # no recorded rule and loads as-is under the caller's vouch
            if is_saved_domain_stats(spark, args.domain_stats):
                stats = load_domain_stats(
                    spark, args.domain_stats, suffixes=suffixes
                )
            else:
                stats = spark.read.parquet(args.domain_stats)
        decisions = prepare_corpus(
            spark.read.parquet(args.documents),
            jaccard_threshold=args.jaccard_threshold,
            large_clusters=args.large_clusters,
            dedup_lines=args.dedup_lines,
            dedup_spans=args.dedup_spans,
            span_k=args.span_k,
            extract_html=args.extract_html,
            url_col=args.url_col,
            domain_stats_frame=stats,
            domain_min_docs=args.domain_min_docs,
            min_domain_quality=args.min_domain_quality,
            max_domain_dup_rate=args.max_domain_dup_rate,
            domain_suffixes=suffixes,
            repetition_filter=args.repetition_filter,
        )
        write_parquet(decisions, args.out)
        for row in corpus_summary(spark.read.parquet(args.out)).collect():
            print(row.asDict())
    elif args.cmd == "semdedup":
        from token_etl_spark.operators.similarity import d4_select, semantic_dedup

        emb = spark.read.parquet(args.embeddings)
        if args.d4:
            out = d4_select(
                emb,
                n_centroids=args.centroids,
                n_iters=args.iters,
                threshold=args.threshold,
                drop_pct=args.drop_pct,
            )
        else:
            out = semantic_dedup(
                emb,
                n_centroids=args.centroids,
                n_iters=args.iters,
                threshold=args.threshold,
                n_assign=args.n_assign,
            )
        write_parquet(out, args.out)
    elif args.cmd == "select":
        from token_etl_spark.operators.curation import (
            importance_weight_table,
            importance_weights,
        )

        docs = spark.read.parquet(args.documents)
        targets = tuple(args.target_sources.split(","))
        if args.fit_out:
            write_parquet(
                importance_weight_table(docs, targets, args.buckets), args.fit_out
            )
        out = importance_weights(docs, targets, args.buckets)
        write_parquet(out, args.out)
    elif args.cmd == "spandedup":
        from token_etl_spark.operators.dedup import (
            dedup_spans_rewrite,
            duplicated_spans,
        )

        docs = spark.read.parquet(args.documents)
        fn = duplicated_spans if args.stats_only else dedup_spans_rewrite
        write_parquet(fn(docs, k=args.k), args.out)
    elif args.cmd == "lmscore":
        from token_etl_spark.operators.curation import bigram_lm_quality

        out = bigram_lm_quality(
            spark.read.parquet(args.documents),
            reference_sources=tuple(args.reference_sources.split(",")),
        )
        write_parquet(out, args.out)
    print(f"{args.cmd}: wrote {args.out}")


if __name__ == "__main__":
    main()
