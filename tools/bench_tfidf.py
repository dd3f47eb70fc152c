"""TF-IDF-at-volume evidence: tfidf_topk at millions of documents.

The oracled query `tfidf_topk` verifies correctness; this script
evidences the scale shape of its claims (operators/tokens.py
tfidf_topk docstring):

  1. the document-frequency table stays VOCAB-bounded as the corpus
     grows (measured as its row count at both sizes);
  2. output is exactly k rows per scoreable document, rank-complete;
  3. shuffle bytes track rows — the (doc,tok) agg and the per-doc
     top-k window are the only corpus-scale exchanges, both keyed by
     uniform ids. Gate on bytes, not walls (NOTES.md measurement
     rules).

Usage:
    python tools/bench_tfidf.py --sizes 1600000,6400000 \
        [--out /tmp/tfidf_vol] [--md BENCH/QUALITY.md] [--gate]
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

K = 3


def run_size(n_docs: int, out: str) -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.tokens import tfidf_topk
    from fluent_bit_spark.session import get_spark

    cores = os.cpu_count() or 8
    spark = get_spark(app_name=f"bench_tfidf_{n_docs}",
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
    t0 = time.time()
    tfidf_topk(docs, k=K).write.mode("overwrite") \
        .parquet(f"{out}/keywords")
    phase("tfidf", t0)

    kw = spark.read.parquet(f"{out}/keywords")
    agg = kw.agg(F.count("*").alias("rows"),
                 F.count_distinct("doc_id").alias("docs"),
                 F.max("rank").alias("max_rank")).first()
    df_rows = (docs.select(F.explode("tokens").alias("tok"))
               .agg(F.count_distinct("tok")).first()[0])
    res["out_rows"] = int(agg["rows"])
    res["docs_covered"] = int(agg["docs"])
    res["df_table_rows"] = int(df_rows)
    # every generated doc has >= K distinct tokens (30-60 draws from a
    # 50k vocab), so coverage must be total and rank-complete
    res["complete"] = (res["docs_covered"] == n_docs
                       and res["out_rows"] == K * n_docs
                       and agg["max_rank"] == K)
    res["docs_per_sec"] = round(n_docs / res["tfidf_wall_s"], 1)
    spark.stop()
    if not res["complete"]:
        raise SystemExit(f"INCOMPLETE TOP-K: {res}")
    if res["df_table_rows"] > VOCAB:
        raise SystemExit(f"DF TABLE NOT VOCAB-BOUNDED: {res}")
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,6400000")
    ap.add_argument("--out", default="/tmp/tfidf_vol")
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
        shuf_x = (b["tfidf_shuffle_write_mb"]
                  / max(a["tfidf_shuffle_write_mb"], 0.1))
        if shuf_x > ratio * 1.3:
            print(json.dumps({"gate": "FAIL",
                              "why": "super-linear shuffle write",
                              "rows_x": ratio, "shuffle_x": shuf_x}))
            return 3
        print(json.dumps({"gate": "ok", "rows_x": ratio,
                          "shuffle_x": round(shuf_x, 2),
                          "df_table_rows": b["df_table_rows"]}))

    if args.md and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        lines = [
            "", f"## TF-IDF volume run {time.strftime('%Y-%m-%d')} "
            f"(sizes {args.sizes}, k={K})", "",
            "| n_docs | tfidf s | out rows | df-table rows | complete | "
            "shuffle R/W MB | docs/s |",
            "|" + "---|" * 7]
        for r in results:
            lines.append(
                f"| {r['n_docs']:,} | {r['tfidf_wall_s']} | "
                f"{r['out_rows']:,} | {r['df_table_rows']:,} | "
                f"{r['complete']} | {r['tfidf_shuffle_read_mb']}/"
                f"{r['tfidf_shuffle_write_mb']} | {r['docs_per_sec']:,} |")
        wall_x = b["tfidf_wall_s"] / max(a["tfidf_wall_s"], 0.1)
        shuf_x = (b["tfidf_shuffle_write_mb"]
                  / max(a["tfidf_shuffle_write_mb"], 0.1))
        lines += [
            "", f"{ratio:.0f}× rows → {wall_x:.1f}× wall, {shuf_x:.1f}× "
            f"shuffle write; the document-frequency table stayed at "
            f"{b['df_table_rows']:,} rows at both sizes (vocab-bounded); "
            f"top-{K} complete for every document.", ""]
        with open(args.md, "a") as f:
            f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
