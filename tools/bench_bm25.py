"""BM25-at-volume evidence: bm25_topk at millions of documents.

The oracled query `bm25_topk` verifies correctness; this script
evidences the scale shape of its claims (operators/tokens.py
bm25_topk docstring):

  1. the broadcast query-term semi join prunes BEFORE any aggregation
     — the matched (doc, term) frame is a small fraction of the full
     explode (measured as matched-tf rows vs total corpus tokens);
  2. output is exactly k rows per query, rank-complete;
  3. shuffle bytes track rows — the matched-tf agg and the per-query
     score agg are the only corpus-scale exchanges. Gate on bytes,
     not walls (NOTES.md measurement rules).

Usage:
    python tools/bench_bm25.py --sizes 1600000,6400000 \
        [--out /tmp/bm25_vol] [--md BENCH/QUALITY.md] [--gate]
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

K = 10
# 4 bag-of-terms queries over the synth vocab (ids uniform in [0,VOCAB));
# one term (VOCAB) is out-of-vocabulary by construction — the semi join
# must drop it silently.
QUERIES = [(1, [7, 4242, 11111]), (2, [123, 321, 999]),
           (3, [25000, 25001, VOCAB]), (4, [49999, 1])]


def run_size(n_docs: int, out: str) -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.tokens import bm25_topk
    from fluent_bit_spark.session import get_spark

    cores = os.cpu_count() or 8
    spark = get_spark(app_name=f"bench_bm25_{n_docs}",
                      shuffle_partitions=cores,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    res: dict = {"n_docs": n_docs, "k": K, "shuffle_partitions": cores}
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
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in QUERIES for t in ts],
        "query_id long, term int")

    t0 = time.time()
    bm25_topk(docs, qdf, k=K) \
        .write.mode("overwrite").parquet(f"{out}/hits")
    phase("bm25", t0)

    hits = spark.read.parquet(f"{out}/hits")
    agg = hits.groupBy("query_id").agg(
        F.count("*").alias("rows"), F.max("rank").alias("max_rank"))
    per_q = {r["query_id"]: (r["rows"], r["max_rank"])
             for r in agg.collect()}
    # semi-join pruning: matched (doc, term) rows vs the full explode
    terms = sorted({t for _, ts in QUERIES for t in ts})
    matched = (docs.select(F.explode("tokens").alias("tok"))
               .filter(F.col("tok").isin(terms)).count())
    total_tok = docs.agg(F.sum(F.size("tokens"))).first()[0]
    res["matched_tokens"] = int(matched)
    res["total_tokens"] = int(total_tok)
    res["matched_frac"] = round(matched / total_tok, 5)
    res["per_query"] = {int(k_): list(v) for k_, v in per_q.items()}
    res["complete"] = (len(per_q) == len(QUERIES)
                       and all(v == (K, K) for v in per_q.values()))
    res["docs_per_sec"] = round(n_docs / res["bm25_wall_s"], 1)
    spark.stop()
    if not res["complete"]:
        raise SystemExit(f"INCOMPLETE TOP-K: {res}")
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,6400000")
    ap.add_argument("--out", default="/tmp/bm25_vol")
    ap.add_argument("--md", default=None)
    ap.add_argument("--gate", action="store_true")
    args = ap.parse_args()

    results = []
    for n in [int(s) for s in args.sizes.split(",")]:
        r = run_size(n, f"{args.out}/{n}")
        print(json.dumps(r))
        results.append(r)

    if args.gate and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        shuf_x = (b["bm25_shuffle_write_mb"]
                  / max(a["bm25_shuffle_write_mb"], 0.1))
        if shuf_x > ratio * 1.3:
            print(json.dumps({"gate": "FAIL",
                              "why": "super-linear shuffle write",
                              "rows_x": ratio, "shuffle_x": shuf_x}))
            return 3
        print(json.dumps({"gate": "ok", "rows_x": ratio,
                          "shuffle_x": round(shuf_x, 2),
                          "matched_frac": b["matched_frac"]}))

    if args.md and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        lines = [
            "", f"## BM25 volume run {time.strftime('%Y-%m-%d')} "
            f"(sizes {args.sizes}, k={K}, {len(QUERIES)} queries)", "",
            "| n_docs | bm25 s | matched frac | complete | "
            "shuffle R/W MB | docs/s |",
            "|" + "---|" * 6]
        for r in results:
            lines.append(
                f"| {r['n_docs']:,} | {r['bm25_wall_s']} | "
                f"{r['matched_frac']} | {r['complete']} | "
                f"{r['bm25_shuffle_read_mb']}/"
                f"{r['bm25_shuffle_write_mb']} | {r['docs_per_sec']:,} |")
        wall_x = b["bm25_wall_s"] / max(a["bm25_wall_s"], 0.1)
        shuf_x = (b["bm25_shuffle_write_mb"]
                  / max(a["bm25_shuffle_write_mb"], 0.1))
        lines += [
            "", f"{ratio:.0f}× rows → {wall_x:.1f}× wall, {shuf_x:.1f}× "
            f"shuffle write; the query-term semi join kept only "
            f"{b['matched_frac']:.3%} of corpus tokens ahead of the first "
            f"exchange at both sizes; top-{K} complete and rank-exact for "
            f"every query.", ""]
        with open(args.md, "a") as f:
            f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
