"""Probe BPE viability bounds: wall-clock for bpe_train and the two
encode paths (compiled merge_fold chain vs vocabulary-table rank-greedy)
as n_merges grows — the measurement behind PERF.md's crossover table and
bpe_encode's documented bound.

Usage: python scripts/probe_bpe.py [sf_dir] [n_merges ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from token_etl_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sizes = [int(a) for a in sys.argv[2:]] or [16, 64, 128, 256]

    from token_etl_spark.io.sources import load_table
    from token_etl_spark.operators.bpe import bpe_encode, bpe_encode_table, bpe_train

    spark = get_spark("probe-bpe")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()  # warm

    print(f"{'n':>5} {'train_s':>8} {'enc_chain_s':>12} {'enc_table_s':>12} {'rows':>8}")
    for n in sizes:
        t0 = time.monotonic()
        merges = bpe_train(docs, n_merges=n)
        n_learned = merges.count()
        t_train = time.monotonic() - t0

        t0 = time.monotonic()
        rows_chain = bpe_encode(docs, merges).count()
        t_chain = time.monotonic() - t0

        t0 = time.monotonic()
        rows_table = bpe_encode_table(docs, merges).count()
        t_table = time.monotonic() - t0

        assert rows_chain == rows_table, (rows_chain, rows_table)
        print(
            f"{n_learned:>5} {t_train:>8.1f} {t_chain:>12.1f} {t_table:>12.1f}"
            f" {rows_chain:>8}"
        )

    # --- encode-only expression-depth curve beyond the corpus's natural
    # merge count: pad a real trained table with never-applying synthetic
    # merges. The chain path pays full analysis/codegen/fold cost per
    # merge regardless of applicability, which is exactly the cost being
    # bounded; the table path pays one dict entry.
    real = bpe_train(docs, n_merges=64)
    real_rows = [
        (r["merge_idx"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in real.orderBy("merge_idx").collect()
    ]
    print(f"\nsynthetic-pad encode-only curve (base {len(real_rows)} real merges):")
    print(f"{'n':>6} {'enc_chain_s':>12} {'enc_table_s':>12}")
    for n in (128, 256, 512, 1024):
        pad = [
            (len(real_rows) + i + 1, f"\x01{i}", f"\x02{i}", 0)
            for i in range(n - len(real_rows))
        ]
        merges = spark.createDataFrame(
            real_rows + pad,
            "merge_idx long, left_sym string, right_sym string, pair_count long",
        )
        try:
            t0 = time.monotonic()
            rows_chain = bpe_encode(docs, merges).count()
            chain = f"{time.monotonic() - t0:>12.1f}"
        except Exception as e:  # analyzer max-iterations at deep chains
            rows_chain = None
            chain = f"FAIL({type(e).__name__})"
        t0 = time.monotonic()
        rows_table = bpe_encode_table(docs, merges).count()
        t_table = time.monotonic() - t0
        assert rows_chain is None or rows_chain == rows_table
        print(f"{n:>6} {chain:>12} {t_table:>12.1f}")


if __name__ == "__main__":
    main()
