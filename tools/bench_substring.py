"""Substring-dedup-at-volume evidence: exact duplicated-span removal
at millions of documents (completes the volume set: DEDUP.md near-dup
chain, PACK.md packing, CLEAN.md line dedup).

Corpus: deterministic Spark-SQL generation, ``TOK_PER_DOC`` tokens per
doc, all organic tokens xxhash64-unique to (doc, position). With
probability ``span_frac`` a doc embeds one of ``N_SPAN`` shared pool
spans (``SPAN_LEN`` tokens) at a deterministic offset — the
copy-pasted-passage shape substring dedup targets.

Planted truth (exact, asserted): organic windows are unique, so
removal can only touch planted spans; a pool span occurring k >= 2
times keeps its globally-first occurrence intact and loses the other
k-1 completely (the span's inner windows share one canonical doc), so

    tokens_removed == sum over spans with k >= 2 of (k - 1) * SPAN_LEN

computed from the generator's own span_id column. Any deviation is an
operator bug, not noise — the harness exits non-zero.

Linearity between sizes is the scale evidence: the plan is one
window-key exchange (~40 B/window regardless of span content), one
dup-table probe, one doc-keyed gather — all ∝ tokens.

Usage:
    python tools/bench_substring.py --sizes 1600000,16000000 \
        [--span-frac 0.2] [--out /tmp/substr_vol] [--md report.md]
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

TOK_PER_DOC = 32
SPAN_LEN = 12
WINDOW = 8
N_SPAN = 200           # pool of shared spans (each occurs n*frac/N times)


def corpus_sql(n_docs: int, span_frac: float) -> str:
    """Token arrays as int64: organic token = xxhash64(id, pos) (unique
    for all practical purposes); a planted doc overwrites positions
    [off, off+SPAN_LEN) with pool span ``sid``'s tokens
    xxhash64('span', sid, k) — identical across every planting."""
    thresh = int(span_frac * 100)
    return f"""
    SELECT id AS doc_id,
           CASE WHEN pmod(xxhash64(id, 11), 100) < {thresh}
                THEN pmod(xxhash64(id, 13), {N_SPAN}) ELSE -1
           END AS span_id,
           CAST(pmod(xxhash64(id, 17),
                     {TOK_PER_DOC - SPAN_LEN + 1}) AS INT) AS off,
           transform(sequence(0, {TOK_PER_DOC - 1}), p ->
             CASE WHEN pmod(xxhash64(id, 11), 100) < {thresh}
                   AND p >= CAST(pmod(xxhash64(id, 17),
                                      {TOK_PER_DOC - SPAN_LEN + 1}) AS INT)
                   AND p < CAST(pmod(xxhash64(id, 17),
                                     {TOK_PER_DOC - SPAN_LEN + 1}) AS INT)
                       + {SPAN_LEN}
                  THEN xxhash64('span', pmod(xxhash64(id, 13), {N_SPAN}),
                                p - CAST(pmod(xxhash64(id, 17),
                                     {TOK_PER_DOC - SPAN_LEN + 1}) AS INT))
                  ELSE xxhash64(id, p)
             END) AS tokens
    FROM range({n_docs}) t(id)
    """


def run_size(n_docs: int, span_frac: float, out: str) -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.tokens import substring_dedup
    from fluent_bit_spark.session import get_spark

    cores = os.cpu_count() or 8
    total_tokens = n_docs * TOK_PER_DOC
    # the window-key exchange carries ~44 B/row (id + pos + md5):
    # wide-ish -> >=4x cores (NOTES.md #10/#12)
    shuf = max(4 * cores, min(2048, total_tokens // 4_000_000))
    spark = get_spark(app_name=f"bench_substring_{n_docs}",
                      shuffle_partitions=shuf,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    res: dict = {"n_docs": n_docs, "span_frac": span_frac,
                 "shuffle_partitions": shuf}
    marks = [(0, 0)]

    def phase(name: str, t0: float) -> None:
        rd, wr = shuffle_totals()
        res[f"{name}_wall_s"] = round(time.time() - t0, 1)
        res[f"{name}_shuffle_read_mb"] = round((rd - marks[-1][0]) / 2**20, 1)
        res[f"{name}_shuffle_write_mb"] = round((wr - marks[-1][1]) / 2**20, 1)
        marks.append((rd, wr))

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    spark.sql(corpus_sql(n_docs, span_frac)) \
        .write.mode("overwrite").parquet(f"{out}/docs")
    phase("gen", t0)

    docs = spark.read.parquet(f"{out}/docs")
    t0 = time.time()
    cleaned = substring_dedup(docs.select("doc_id", "tokens"),
                              length=WINDOW, hash_fn="xxhash64")
    cleaned.write.mode("overwrite").parquet(f"{out}/clean")
    phase("dedup", t0)
    spark.catalog.clearCache()

    c = spark.read.parquet(f"{out}/clean")
    agg = c.agg(F.count("*").alias("docs"),
                F.sum("n_before").alias("before"),
                F.sum("n_removed").alias("removed")).first()
    res["rows_out"] = int(agg["docs"])
    res["tokens_before"] = int(agg["before"])
    res["tokens_removed"] = int(agg["removed"])
    # planted truth from the generator's own span_id column
    expect = (docs.filter(F.col("span_id") >= 0)
              .groupBy("span_id").count()
              .filter(F.col("count") >= 2)
              .agg(F.sum((F.col("count") - 1) * SPAN_LEN)).first()[0])
    res["tokens_removed_expected"] = int(expect or 0)
    res["rows_in_ok"] = res["rows_out"] == n_docs
    res["before_ok"] = res["tokens_before"] == total_tokens
    res["removal_exact"] = (res["tokens_removed"]
                            == res["tokens_removed_expected"])
    res["docs_per_sec"] = round(n_docs / res["dedup_wall_s"], 1)
    res["tokens_per_sec"] = round(total_tokens / res["dedup_wall_s"], 1)
    spark.stop()
    if not (res["rows_in_ok"] and res["before_ok"]
            and res["removal_exact"]):
        raise SystemExit(f"PLANTED-TRUTH BREACH: {res}")
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,16000000")
    ap.add_argument("--span-frac", type=float, default=0.2)
    ap.add_argument("--out", default="/tmp/substr_vol")
    ap.add_argument("--md", default=None, help="append a markdown report")
    ap.add_argument("--gate", action="store_true",
                    help="exit non-zero on super-linear shuffle growth "
                         "(planted-truth breaches always exit non-zero)")
    args = ap.parse_args()

    results = []
    for n in [int(s) for s in args.sizes.split(",")]:
        r = run_size(n, args.span_frac, f"{args.out}/{n}")
        print(json.dumps(r))
        results.append(r)

    if args.gate and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        shuf_x = (b["dedup_shuffle_write_mb"]
                  / max(a["dedup_shuffle_write_mb"], 0.1))
        if shuf_x > ratio * 1.3:
            print(json.dumps({"gate": "FAIL",
                              "why": "super-linear shuffle write",
                              "rows_x": ratio, "shuffle_x": shuf_x}))
            return 3
        print(json.dumps({"gate": "ok", "rows_x": ratio,
                          "shuffle_x": round(shuf_x, 2)}))

    if args.md and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        lines = [
            "", f"## Substring-dedup volume run {time.strftime('%Y-%m-%d')}"
            f" (sizes {args.sizes}, span_frac {args.span_frac}, "
            f"window {WINDOW}, span {SPAN_LEN})", "",
            "| n_docs | tokens | gen s | dedup s | removed (== planted) | "
            "shuffle R/W MB (dedup) | tokens/s |",
            "|" + "---|" * 7]
        for r in results:
            lines.append(
                f"| {r['n_docs']:,} | {r['tokens_before']:,} | "
                f"{r['gen_wall_s']} | {r['dedup_wall_s']} | "
                f"{r['tokens_removed']:,} ({r['removal_exact']}) | "
                f"{r['dedup_shuffle_read_mb']}/"
                f"{r['dedup_shuffle_write_mb']} | "
                f"{r['tokens_per_sec']:,} |")
        wall_x = b["dedup_wall_s"] / max(a["dedup_wall_s"], 0.1)
        shuf_x = (b["dedup_shuffle_write_mb"]
                  / max(a["dedup_shuffle_write_mb"], 0.1))
        verdict = ("sub-linear" if wall_x <= ratio
                   else "linear within tolerance" if wall_x <= ratio * 1.15
                   else "SUPER-LINEAR")
        lines += [
            "", f"{ratio:.0f}× rows → {wall_x:.1f}× dedup wall, "
            f"{shuf_x:.1f}× shuffle write ({verdict} wall growth); "
            "planted-truth removal EXACT at both sizes (every duplicated "
            "span loses exactly its non-canonical occurrences, organic "
            "tokens untouched).", ""]
        with open(args.md, "a") as f:
            f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
