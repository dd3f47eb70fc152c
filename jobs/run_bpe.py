"""spark-submit entry point for the BPE tokenizer (functions/bpe.py).

Two modes, mirroring the train-once/apply-many production split:

- ``--mode train``: documents → distributed word counts (one map-side-
  combined shuffle, output vocab-bounded) → driver-side merge loop →
  ``merges/`` parquet (a, b, rank). Deterministic: same corpus, same
  merge table.
- ``--mode encode``: documents + ``--merges`` dir → ``tokens/``
  parquet in the north-star shape (doc_id, tokens:array<int>, n_tok,
  source) via the Arrow word-cache kernel — the output feeds
  jobs/run_pack.py / run_quality.py directly. Asserts the boundary
  invariant on a sample: token count per doc ≥ word count (each word
  is ≥ 1 token), and exits non-zero on an empty merge table.

Usage:

    zip -r engine.zip fluent_bit_spark
    spark-submit --master local[32] --py-files engine.zip \
        jobs/run_bpe.py --mode train --input docs.parquet \
        --output /path/bpe --n-merges 8000
    spark-submit ... jobs/run_bpe.py --mode encode --input docs.parquet \
        --merges /path/bpe/merges --output /path/bpe

Prints one JSON line per run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="BPE train / encode")
    ap.add_argument("--mode", required=True, choices=["train", "encode"])
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--n-merges", type=int, default=1000)
    ap.add_argument("--merges", default=None,
                    help="encode mode: merges/ dir from --mode train")
    ap.add_argument("--id-space", type=int, default=50000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from fluent_bit_spark.functions.bpe import (
        bpe_encode_arrow, train_bpe, word_counts,
    )
    from fluent_bit_spark.session import get_spark

    spark = get_spark(app_name=f"run_bpe_{args.mode}")
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    if args.mode == "train":
        wc = word_counts(docs, args.text_col)
        # the ONLY collect: the vocab-bounded word table (sorted for a
        # platform-independent iteration order into the trainer)
        rows = sorted((r["word"], r["c"]) for r in wc.collect())
        merges = train_bpe(rows, args.n_merges)
        spark.createDataFrame(
            [(a, b, i) for i, (a, b) in enumerate(merges)],
            "a string, b string, rank int"
        ).coalesce(1).write.mode("overwrite") \
            .parquet(f"{args.output}/merges")
        print(json.dumps({"mode": "train", "docs_in": n_in,
                          "distinct_words": len(rows),
                          "merges": len(merges),
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0

    if not args.merges:
        ap.error("--mode encode needs --merges")
    mrows = (spark.read.parquet(args.merges)
             .orderBy("rank").collect())
    merges = [(r["a"], r["b"]) for r in mrows]
    if not merges:
        print(json.dumps({"mode": "encode", "error": "empty merge table"}))
        return 2
    enc = bpe_encode_arrow(docs, merges, text_col=args.text_col,
                           id_space=args.id_space)
    out = enc.withColumn("n_tok", F.size("tokens"))
    out.write.mode("overwrite").parquet(f"{args.output}/tokens")

    chk = spark.read.parquet(f"{args.output}/tokens")
    n_out = chk.count()
    bad = chk.filter(
        F.size("tokens") < F.size(F.filter(
            F.split(F.col(args.text_col), r"\s+"),
            lambda w: w != ""))).count()
    tok_total = chk.agg(F.sum("n_tok")).first()[0] or 0
    ok = (n_out == n_in and bad == 0)
    print(json.dumps({"mode": "encode", "docs_in": n_in,
                      "docs_out": n_out, "tokens_out": int(tok_total),
                      "under_tokenized_docs": bad,
                      "wall_sec": round(time.time() - t0, 2)}))
    # no spark.stop(): spark-submit tears the JVM down at exit, and an
    # in-suite main() call must not kill the caller's shared session
    return 0 if ok else 2


if __name__ == "__main__":
    raise SystemExit(main())
