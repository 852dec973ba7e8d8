"""BPE-trainer round-cost scaling (VERDICT r11 #6): at 1000x rows, show
(a) the one-time corpus-scan leg vs the vocab-flat rounds decomposition,
(b) per-merge marginal cost FLAT in the round number (the per-round pin
keeps lineage from growing), and (c) the merge_batch lever cutting
sequential rounds ~merge_batch-fold for a 64-merge vocabulary.

The word table is materialized once to parquet so the round timings are
isolated from the scan leg (at a warehouse, word counts are an ingest-time
table anyway — SCALING.md round-11 note).

Usage: python tools/scaling_bpe.py [corpus_dir] [out_json]
Needs an otherwise-idle machine (PLANS.md bench protocol).
"""

from __future__ import annotations

import json
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)

from hiss_cube_spark import get_spark  # noqa: E402
from hiss_cube_spark.operators.tokenizer import (  # noqa: E402
    learn_bpe_merges,
    word_frequency_table,
)


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale1000"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scaling_bpe.json"
    spark = get_spark("scaling-bpe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    wt_path = "/tmp/bpe_word_table.parquet"
    t0 = time.perf_counter()
    word_frequency_table(docs, min_freq=1).write.mode("overwrite").parquet(wt_path)
    scan_sec = time.perf_counter() - t0
    words = spark.read.parquet(wt_path)
    n_words = words.count()

    rec: dict = {
        "corpus": corpus,
        "n_docs": docs.count(),
        "vocab_words": n_words,
        "scan_leg_sec": round(scan_sec, 2),
        "sequential": {},
    }

    # JIT/codegen warmup so the ladder's first point measures rounds, not
    # session startup (bench best-of-N discipline)
    learn_bpe_merges(words, n_merges=4, merge_batch=1).count()
    spark.catalog.clearCache()

    # (b) marginal per-merge cost across the round ladder, batch=1
    prev_k, prev_sec = 0, 0.0
    for k in (16, 40, 64):
        t0 = time.perf_counter()
        n = learn_bpe_merges(words, n_merges=k, merge_batch=1).count()
        sec = time.perf_counter() - t0
        marginal = (sec - prev_sec) / (k - prev_k)
        rec["sequential"][k] = {
            "sec": round(sec, 2),
            "merges": n,
            "marginal_sec_per_merge": round(marginal, 3),
        }
        prev_k, prev_sec = k, sec
        spark.catalog.clearCache()

    # (c) the batch lever: same 64-merge vocabulary, 8 merges per round
    t0 = time.perf_counter()
    n = learn_bpe_merges(words, n_merges=64, merge_batch=8).count()
    rec["batched_64_at_8"] = {"sec": round(time.perf_counter() - t0, 2), "merges": n}

    with open(out_json, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
