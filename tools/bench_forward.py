"""Forward-codec-at-volume evidence: msgpack encode → pack → decode
throughput and conservation at millions of token rows.

The encode stage is pure Catalyst column expressions (no Python
boundary) and the chunk fold + decode are per-partition Arrow kernels,
so the whole chain is map-only — zero shuffle is asserted from the
Spark UI totals, and linearity between sizes is the scale evidence
(nothing accumulates: chunk memory is bounded by a task's partition).

Per size:
  - encode+pack wall (chunks landed as .fwd files), decode wall
  - zero-shuffle assertion for both phases
  - conservation: decoded event count == input rows, sum(n_tok) and
    sum of token values equal on both sides (token arrays bit-exact
    through the bytes), bytes-per-row

Usage:
    python tools/bench_forward.py --sizes 1600000,6400000 \
        [--out /tmp/fwd_vol] [--md BENCH/FORWARD.md] [--gate]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sinks import shuffle_totals  # noqa: E402

TOK_PER_DOC = 48       # ~flagship-shaped wide rows
N_SOURCES = 8


def corpus_sql(n_docs: int) -> str:
    """Deterministic tokens table in the north-star shape."""
    return f"""
    SELECT concat('doc', id) AS doc_id,
           transform(sequence(0, {TOK_PER_DOC - 1}), j ->
             CAST(pmod(xxhash64(id, j), 50000) AS INT)) AS tokens,
           {TOK_PER_DOC} AS n_tok,
           concat('src', pmod(id, {N_SOURCES})) AS source
    FROM range({n_docs}) t(id)
    """


def run_size(n_docs: int, out: str, engine: str = "arrow") -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.sources.forward import (
        TOKEN_FIELDS, entries_column, pack_chunks, pack_chunks_arrow,
        read_forward_files,
    )

    cores = os.cpu_count() or 8
    spark = get_spark(app_name=f"bench_forward_{n_docs}",
                      shuffle_partitions=4 * cores,
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    res: dict = {"n_docs": n_docs, "engine": engine}
    marks = [(0, 0)]

    def phase(name: str, t0: float) -> None:
        rd, wr = shuffle_totals()
        res[f"{name}_wall_s"] = round(time.time() - t0, 1)
        res[f"{name}_shuffle_read_mb"] = round((rd - marks[-1][0]) / 2**20, 1)
        res[f"{name}_shuffle_write_mb"] = round((wr - marks[-1][1]) / 2**20, 1)
        marks.append((rd, wr))

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    spark.sql(corpus_sql(n_docs)).write.mode("overwrite") \
        .parquet(f"{out}/docs")
    phase("gen", t0)

    docs = spark.read.parquet(f"{out}/docs")
    src = docs.agg(
        F.count("*").alias("rows"), F.sum("n_tok").alias("toks"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
         .alias("tok_sum")).first()

    t0 = time.time()
    tagged = docs.withColumn(
        "tag", F.concat(F.lit("app."), F.col("source")))
    if engine == "arrow":
        chunks = pack_chunks_arrow(tagged, "tag",
                                   [f[0] for f in TOKEN_FIELDS])
    else:
        chunks = pack_chunks(
            entries_column(tagged, None, TOKEN_FIELDS), "tag", "entry")
    os.makedirs(f"{out}/chunks", exist_ok=True)
    from fluent_bit_spark.sources.forward import write_forward_chunks
    write_forward_chunks(chunks, f"{out}/chunks")
    phase("encode", t0)

    files = glob.glob(f"{out}/chunks/*.fwd")
    res["n_chunks"] = len(files)
    res["chunk_bytes"] = sum(os.path.getsize(f) for f in files)
    res["bytes_per_row"] = round(res["chunk_bytes"] / n_docs, 1)

    t0 = time.time()
    back = read_forward_files(spark, f"{out}/chunks/*.fwd", TOKEN_FIELDS)
    dec = back.agg(
        F.count("*").alias("rows"), F.sum("n_tok").alias("toks"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
         .alias("tok_sum"),
        F.countDistinct("tag").alias("tags")).first()
    phase("decode", t0)

    res["rows_in"] = int(src["rows"])
    res["rows_decoded"] = int(dec["rows"])
    res["conserved"] = (
        src["rows"] == dec["rows"] and src["toks"] == dec["toks"]
        and src["tok_sum"] == dec["tok_sum"]
        and int(dec["tags"]) == N_SOURCES)
    res["zero_shuffle"] = (
        res["encode_shuffle_write_mb"] < 1.0
        and res["decode_shuffle_write_mb"] < 1.0)
    res["encode_rows_per_sec"] = round(n_docs / res["encode_wall_s"], 1)
    res["decode_rows_per_sec"] = round(n_docs / res["decode_wall_s"], 1)
    spark.stop()
    if not res["conserved"]:
        raise SystemExit(f"CONSERVATION BREACH: {res}")
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,6400000")
    ap.add_argument("--engine", choices=["arrow", "catalyst"],
                    default="arrow")
    ap.add_argument("--out", default="/tmp/fwd_vol")
    ap.add_argument("--md", default=None, help="append a markdown report")
    ap.add_argument("--gate", action="store_true",
                    help="exit non-zero on shuffle appearing in the "
                         "map-only chain or super-linear wall growth")
    args = ap.parse_args()

    results = []
    for n in [int(s) for s in args.sizes.split(",")]:
        r = run_size(n, f"{args.out}/{n}", args.engine)
        print(json.dumps(r))
        results.append(r)

    ok = all(r["zero_shuffle"] for r in results)
    if len(results) >= 2:
        a, b = results[0], results[-1]
        ratio = b["n_docs"] / a["n_docs"]
        wall_ratio = ((b["encode_wall_s"] + b["decode_wall_s"])
                      / max(a["encode_wall_s"] + a["decode_wall_s"], 0.1))
        print(json.dumps({"rows_ratio": ratio,
                          "wall_ratio": round(wall_ratio, 2)}))
        # generous 1.5× headroom over linear for host noise
        ok = ok and wall_ratio <= 1.5 * ratio

    if args.md:
        with open(args.md, "a") as f:
            f.write("\n\n## bench_forward run\n\n")
            f.write("| docs | engine | encode s | rows/s | decode s | "
                    "rows/s | chunks | B/row | shuffle MB | conserved "
                    "|\n")
            f.write("|---|---|---|---|---|---|---|---|---|---|\n")
            for r in results:
                f.write(
                    f"| {r['n_docs']:,} | {r['engine']} | "
                    f"{r['encode_wall_s']} | "
                    f"{r['encode_rows_per_sec']:,} | {r['decode_wall_s']} "
                    f"| {r['decode_rows_per_sec']:,} | {r['n_chunks']} | "
                    f"{r['bytes_per_row']} | "
                    f"{r['encode_shuffle_write_mb'] + r['decode_shuffle_write_mb']} "
                    f"| {r['conserved']} |\n")

    if args.gate and not ok:
        print("GATE FAIL: shuffle in map-only chain or super-linear wall")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
