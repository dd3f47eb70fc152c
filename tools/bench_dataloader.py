"""Dataloader-materialization ops at volume: kn_surprisal (the pair
shuffle join), bucket_batches (distributed prefix count), and
fim_transform (map-only rewrite) at two corpus sizes — the two-size
shuffle-linearity evidence every wide operator in this repo lands with
(BENCH/ discipline; see DEDUP.md, PACK.md, QUALITY.md).

Corpus: deterministic Spark-SQL generation — ``TOK_PER_DOC`` tokens
per doc drawn uniformly from a ``VOCAB``-sized id space (pair keys are
then mostly distinct, the WORST case for the KN pair model: at web
scale the model is corpus-sized and the scoring join must shuffle).
Doc lengths vary pmod-deterministically 8..56 so bucket_batches sees a
real length distribution.

Exact invariants (asserted, exit non-zero on any failure):
- kn self-trained: n_unscored == 0 and every doc with >= 2 tokens
  scored;
- bucket: every positive-length doc lands in exactly one batch or the
  oversize route; no batch's padded cost exceeds the budget;
- fim: sum(n_tok_out) == sum(n_tok) + 3 * transformed_docs.

Scale evidence: per-op shuffle-write deltas at n and 4n rows; the
gate requires ratio <= LINEAR_GATE (linear = 4.0; slack for AQE
partition-count effects), and fim to stay at (near-)zero shuffle.

Usage:
    python tools/bench_dataloader.py --sizes 800000,3200000 \
        [--md BENCH/PACK.md]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sinks import shuffle_totals  # noqa: E402

VOCAB = 50_000
LINEAR_GATE = 5.5      # 4x rows -> <= this x shuffle (linear = 4.0)
FIM_SHUFFLE_CAP = 1 << 22  # "map-only" tolerance: AQE bookkeeping only


def corpus_sql(n_docs: int) -> str:
    """(doc_id, source, tokens: array<bigint>, n_tok) — lengths
    8..56, tokens xxhash64-uniform over VOCAB."""
    return f"""
    SELECT id AS doc_id,
           concat('src', pmod(id, 8)) AS source,
           transform(sequence(1, CAST(8 + pmod(xxhash64(id, 3), 49)
                                      AS INT)),
                     i -> pmod(xxhash64(id, i, 7), {VOCAB})) AS tokens
    FROM range({n_docs})
    """


def run_size(n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.tokens import (bucket_batches,
                                                   fim_transform,
                                                   kn_surprisal)
    from fluent_bit_spark.session import get_spark

    parts = max(32, n_docs // 100_000)
    spark = get_spark(app_name=f"bench_dataloader_{n_docs}",
                      shuffle_partitions=parts,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    df = (spark.sql(corpus_sql(n_docs))
          .withColumn("n_tok", F.size("tokens"))
          .repartition(parts).persist())
    n_in, tok_in = df.count(), df.agg(F.sum("n_tok")).first()[0]
    res: dict = {"n_docs": n_in, "tokens": int(tok_in), "ops": {}}

    # --- fim (map-only) ---------------------------------------------------
    r0, w0 = shuffle_totals()
    t0 = time.time()
    fim = fim_transform(df, rate_permille=800)
    agg = fim.agg(
        F.sum("n_tok_out").alias("tok_out"),
        F.sum(F.when(F.col("fim_mode") != "none", 1).otherwise(0))
         .alias("nfim")).first()
    wall = time.time() - t0
    r1, w1 = shuffle_totals()
    assert int(agg["tok_out"]) == int(tok_in) + 3 * int(agg["nfim"]), \
        "fim conservation failed"
    res["ops"]["fim"] = {"wall_s": round(wall, 2),
                         "shuffle_w": w1 - w0,
                         "fim_docs": int(agg["nfim"])}

    # --- bucket_batches ---------------------------------------------------
    t0 = time.time()
    bb = bucket_batches(df, max_tokens=256, bucket_rounding=16,
                        group_size=(1 << 60) // max(parts, 1))
    per_batch = (bb.filter(~F.col("oversize"))
                 .groupBy("source", "bucket_len", "batch_idx")
                 .agg(F.count("*").alias("n_seqs")))
    stats = per_batch.agg(
        F.count("*").alias("batches"),
        F.max(F.col("n_seqs") * F.col("bucket_len")).alias("maxcost"),
        F.sum("n_seqs").alias("assigned")).first()
    n_over = bb.filter("oversize").count()
    wall = time.time() - t0
    r2, w2 = shuffle_totals()
    assert int(stats["assigned"]) + n_over == n_in, \
        "bucket conservation failed"
    assert int(stats["maxcost"]) <= 256, "bucket budget exceeded"
    res["ops"]["bucket"] = {"wall_s": round(wall, 2),
                            "shuffle_w": w2 - w1,
                            "batches": int(stats["batches"]),
                            "oversize": n_over}

    # --- kn_surprisal (self-trained) -------------------------------------
    t0 = time.time()
    kn = kn_surprisal(df)
    ka = kn.agg(F.count("*").alias("docs"),
                F.sum("n_unscored").alias("unscored"),
                F.sum("n_scored").alias("scored")).first()
    wall = time.time() - t0
    r3, w3 = shuffle_totals()
    n_scoreable = df.filter(F.size("tokens") >= 2).count()
    assert int(ka["unscored"]) == 0, "kn self-train left pairs unscored"
    assert int(ka["docs"]) == n_scoreable, "kn dropped docs"
    res["ops"]["kn"] = {"wall_s": round(wall, 2),
                        "shuffle_w": w3 - w2,
                        "pairs_scored": int(ka["scored"])}
    spark.stop()
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="800000,3200000")
    ap.add_argument("--md", default=None)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    runs = [run_size(n) for n in sizes]
    out = {"sizes": sizes, "runs": runs, "ratios": {}}
    ok = True
    scale = runs[-1]["n_docs"] / runs[0]["n_docs"]
    for op in ("fim", "bucket", "kn"):
        a, b = runs[0]["ops"][op], runs[-1]["ops"][op]
        ratio = (b["shuffle_w"] / a["shuffle_w"]
                 if a["shuffle_w"] else None)
        out["ratios"][op] = {"rows_x": scale, "shuffle_x": ratio,
                             "wall_x": round(b["wall_s"]
                                             / max(a["wall_s"], 1e-9), 2)}
        if op == "fim":
            ok &= b["shuffle_w"] <= FIM_SHUFFLE_CAP
        elif ratio is not None:
            ok &= ratio <= LINEAR_GATE * scale / 4.0
    out["gate_ok"] = ok
    print(json.dumps(out))
    if args.md and ok:
        with open(args.md, "a") as f:
            f.write(f"\n<!-- bench_dataloader {json.dumps(out)} -->\n")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
