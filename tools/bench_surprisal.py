"""Surprisal-at-volume evidence: unigram_surprisal at millions of docs.

The sf0.1 corpus verifies *correctness* (oracled query
`unigram_surprisal` value-checks the frequency model, the milli-nat
rounding, and the per-document BIGINT sums against DuckDB); this script
evidences the *scale shape* of the three claims the operator makes
(operators/tokens.py unigram_surprisal docstring):

  1. the frequency model stays VOCAB-sized no matter the corpus size —
     measured as the model's row count at both sizes;
  2. scoring is exact and conserving — sum(n_tok_scored) must equal
     sum(n_tok) (every token scored exactly once);
  3. shuffle bytes track rows (the doc-agg exchange carries ~one
     narrow row per document; the freq exchange is bounded by
     partitions × vocab partials) — gate on bytes, not walls
     (deterministic on a co-tenant guest; NOTES.md measurement rules).

Usage:
    python tools/bench_surprisal.py --sizes 1600000,16000000 \
        [--out /tmp/surprisal_vol] [--md BENCH/CLEAN.md] [--gate]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sinks import shuffle_totals  # noqa: E402
from tools.bench_pack import VOCAB, tokens_sql  # noqa: E402


def run_size(n_docs: int, out: str, model: str = "unigram") -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.tokens import (
        backoff_surprisal, bigram_surprisal, unigram_surprisal,
    )
    from fluent_bit_spark.session import get_spark

    # Exchanges here are NARROW (tok/count partials; one row per doc)
    # — one reduce task per core is the right sizing (NOTES.md #12:
    # the 4x-cores rule is for wide-row exchanges only).
    cores = os.cpu_count() or 8
    spark = get_spark(app_name=f"bench_surprisal_{n_docs}",
                      shuffle_partitions=cores,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    res: dict = {"n_docs": n_docs, "model": model,
                 "shuffle_partitions": cores}
    marks = [(0, 0)]

    def phase(name: str, t0: float) -> None:
        rd, wr = shuffle_totals()
        res[f"{name}_wall_s"] = round(time.time() - t0, 1)
        res[f"{name}_shuffle_read_mb"] = round((rd - marks[-1][0]) / 2**20, 1)
        res[f"{name}_shuffle_write_mb"] = round((wr - marks[-1][1]) / 2**20, 1)
        marks.append((rd, wr))

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    spark.range(n_docs).createOrReplaceTempView("rng")
    spark.sql(tokens_sql(n_docs)).write.mode("overwrite") \
        .parquet(f"{out}/tokens")
    phase("gen", t0)

    docs = spark.read.parquet(f"{out}/tokens")
    if model == "bigram":
        # a bigram model scores one unit per ADJACENT PAIR; min doc
        # length in the fixture is >= 2 so greatest() is belt-and-braces
        tok_in = docs.agg(F.sum(F.greatest(F.col("n_tok") - 1,
                                           F.lit(0)))).first()[0]
        n_expected = docs.filter(F.col("n_tok") >= 2).count()
    elif model == "backoff":
        # order-3 backoff scores one unit per full-context position
        tok_in = docs.agg(F.sum(F.greatest(F.col("n_tok") - 2,
                                           F.lit(0)))).first()[0]
        n_expected = docs.filter(F.col("n_tok") >= 3).count()
    elif model == "dsir":
        # hashed features per doc: n_tok unigrams + (n_tok-1) bigrams
        tok_in = docs.agg(F.sum(F.col("n_tok") * 2 - 1)).first()[0]
        n_expected = n_docs
    else:
        tok_in = docs.agg(F.sum("n_tok")).first()[0]
        n_expected = n_docs

    t0 = time.time()
    if model == "bigram":
        scored = (bigram_surprisal(docs)
                  .withColumnRenamed("n_bigrams_scored", "n_tok_scored"))
    elif model == "backoff":
        # the train-once/score-many posture backoff exists for: models
        # from HALF the corpus (even ids), every doc scored — held-out
        # grams exercise the backoff ladder at volume
        scored = (backoff_surprisal(
                      docs.filter(F.col("doc_id") % 2 == 0), docs,
                      order=3)
                  .withColumnRenamed("n_scored", "n_tok_scored"))
    elif model == "dsir":
        # K-bounded hashed-feature log-ratio model + broadcast scoring
        # (operators/tokens.py): the model row count is gated EXACTLY
        # == n_buckets at every corpus size
        from fluent_bit_spark.operators.tokens import (
            dsir_logratio_model, dsir_score,
        )
        lr = dsir_logratio_model(
            docs, docs.filter(F.col("doc_id") % 7 == 0),
            n_buckets=4096).persist()
        dsir_model_rows = lr.count()
        scored = (dsir_score(docs, lr, id_cols=("doc_id", "source"))
                  .withColumnRenamed("n_feat", "n_tok_scored")
                  .withColumnRenamed("llr_millinats", "nll_millinats"))
    else:
        scored = unigram_surprisal(docs)
    scored.write.mode("overwrite").parquet(f"{out}/scored")
    phase("score", t0)

    s = spark.read.parquet(f"{out}/scored")
    agg = s.agg(F.count("*").alias("docs"),
                F.sum("n_tok_scored").alias("tok_scored"),
                F.sum("nll_millinats").alias("nll_total")).first()
    if model == "backoff":
        lv = s.agg(F.sum("n_full").alias("nf"),
                   F.sum("n_oov").alias("no")).first()
        res["full_frac"] = round(lv["nf"] / max(agg["tok_scored"], 1), 4)
        res["oov_frac"] = round(lv["no"] / max(agg["tok_scored"], 1), 4)
    # claim 1 (unigram): the model is vocab-bounded — the distinct-token
    # count IS its row count. For the bigram model the analogous figure
    # is distinct ADJACENT PAIRS: corpus-dependent by design, reported
    # at both sizes to show saturation toward vocab^2 (sub-linear
    # growth), never gated as bounded.
    if model == "backoff":
        tri = docs.filter(F.col("doc_id") % 2 == 0).select(
            F.explode(F.expr(
                "transform(sequence(0, size(tokens) - 3), "
                "i -> struct(tokens[i] AS t1, tokens[i+1] AS t2, "
                "tokens[i+2] AS t3))")).alias("g"))
        model_rows = (tri.select("g.t1", "g.t2", "g.t3")
                      .distinct().count())
    elif model == "bigram":
        pairs = docs.select(
            F.explode(F.expr(
                "transform(sequence(0, size(tokens) - 2), "
                "i -> struct(tokens[i] AS t1, tokens[i+1] AS t2))"))
            .alias("bg"))
        model_rows = pairs.select("bg.t1", "bg.t2").distinct().count()
    elif model == "dsir":
        model_rows = dsir_model_rows
    else:
        model_rows = (docs.select(F.explode("tokens").alias("tok"))
                      .agg(F.count_distinct("tok")).first()[0])
    res["tokens_in"] = int(tok_in)
    res["tokens_scored"] = int(agg["tok_scored"])
    res["docs_scored"] = int(agg["docs"])
    res["nll_total_millinats"] = int(agg["nll_total"])
    res["model_rows"] = int(model_rows)
    res["conserved"] = (res["tokens_in"] == res["tokens_scored"]
                        and res["docs_scored"] == n_expected)
    res["tokens_per_sec"] = round(tok_in / res["score_wall_s"], 1)
    if model == "dsir":
        # the end-to-end selection path (model + score + Gumbel top-n
        # via TakeOrderedAndProject) — n bounded well under driver size
        from fluent_bit_spark.operators.tokens import dsir_select
        t0 = time.time()
        n_top = min(100_000, n_docs)
        n_sel = dsir_select(docs,
                            docs.filter(F.col("doc_id") % 7 == 0),
                            n=n_top, n_buckets=4096).count()
        phase("select", t0)
        res["selected"] = int(n_sel)
        if n_sel != n_top:
            spark.stop()
            raise SystemExit(f"SELECTION COUNT WRONG: {res}")
    spark.stop()
    if not res["conserved"]:
        raise SystemExit(f"SCORING LOSS: {res}")
    if model == "unigram" and res["model_rows"] > VOCAB:
        raise SystemExit(f"MODEL NOT VOCAB-BOUNDED: {res}")
    if model == "dsir" and res["model_rows"] != 4096:
        raise SystemExit(f"DSIR MODEL NOT EXACTLY K ROWS: {res}")
    if model == "bigram" and res["model_rows"] > VOCAB * VOCAB:
        raise SystemExit(f"PAIR MODEL EXCEEDS VOCAB^2: {res}")
    if model == "backoff" and res["full_frac"] >= 1:
        # oov_frac IS 0 by construction at volume (50k vocab, every
        # unigram observed); the backoff-exercised signal is top-order
        # misses — the held-out half must contain unseen trigrams
        raise SystemExit(f"BACKOFF NEVER FIRED (held-out half saw "
                         f"no new trigrams — fixture broken?): {res}")
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,16000000")
    ap.add_argument("--out", default="/tmp/surprisal_vol")
    ap.add_argument("--md", default=None, help="append a markdown report")
    ap.add_argument("--model", default="unigram",
                    choices=["unigram", "bigram", "backoff", "dsir"])
    ap.add_argument("--gate", action="store_true",
                    help="exit non-zero on super-linear shuffle growth "
                         "or an unbounded model (conservation breaches "
                         "always exit non-zero)")
    args = ap.parse_args()

    results = []
    for n in [int(s) for s in args.sizes.split(",")]:
        r = run_size(n, f"{args.out}/{n}", model=args.model)
        print(json.dumps(r))
        results.append(r)

    if args.gate and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        shuf_x = (b["score_shuffle_write_mb"]
                  / max(a["score_shuffle_write_mb"], 0.1))
        if shuf_x > ratio * 1.3:
            print(json.dumps({"gate": "FAIL",
                              "why": "super-linear shuffle write",
                              "rows_x": ratio, "shuffle_x": shuf_x}))
            return 3
        if args.model in ("unigram", "dsir") and \
                b["model_rows"] > a["model_rows"] * 1.05:
            print(json.dumps({"gate": "FAIL",
                              "why": "model grows with corpus",
                              "model_rows": [a["model_rows"],
                                             b["model_rows"]]}))
            return 4
        print(json.dumps({"gate": "ok", "rows_x": ratio,
                          "shuffle_x": round(shuf_x, 2),
                          "model_rows": b["model_rows"]}))

    if args.md and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        lines = [
            "", f"## Surprisal volume run {time.strftime('%Y-%m-%d')} "
            f"(sizes {args.sizes})", "",
            "| n_docs | tokens in | gen s | score s | model rows | "
            "conserved | shuffle R/W MB (score) | tokens/s |",
            "|" + "---|" * 8]
        for r in results:
            lines.append(
                f"| {r['n_docs']:,} | {r['tokens_in']:,} | "
                f"{r['gen_wall_s']} | {r['score_wall_s']} | "
                f"{r['model_rows']:,} | {r['conserved']} | "
                f"{r['score_shuffle_read_mb']}/"
                f"{r['score_shuffle_write_mb']} | "
                f"{r['tokens_per_sec']:,} |")
        wall_x = b["score_wall_s"] / max(a["score_wall_s"], 0.1)
        shuf_x = (b["score_shuffle_write_mb"]
                  / max(a["score_shuffle_write_mb"], 0.1))
        lines += [
            "", f"{ratio:.0f}× rows → {wall_x:.1f}× score wall, "
            f"{shuf_x:.1f}× shuffle write; the {args.model} model is "
            f"{b['model_rows']:,} rows at the larger size "
            f"({a['model_rows']:,} at the smaller) "
            "and unit conservation is exact.", ""]
        with open(args.md, "a") as f:
            f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
