"""spark-submit entry point for the training-data dedup suite.

End-to-end: documents table → two-stage near-dup pairs (MinHash+LSH
candidates → exact shingle-Jaccard verify) → connected-component group
resolution → the DEDUPLICATED table (keep-one per group) plus the pair
and membership reports.

Usage:

    zip -r engine.zip fluent_bit_spark
    spark-submit --master local[32] --py-files engine.zip \
        jobs/run_dedup.py --input /path/documents.parquet \
        --output /path/dedup_out \
        [--id-col doc_id --text-col text] \
        [--jaccard 0.5] [--exact-only]

Outputs under --output:
    pairs/        (d1, d2, jaccard)           near-dup pairs
    membership/   (id, canonical_id, keep)    every doc's group
    deduped/      input schema                keep=true rows only
Prints one JSON line with counts + wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="near-dup dedup suite")
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--jaccard", type=float, default=0.5,
                    help="verify threshold (two-stage path)")
    # None = "not explicitly set": incremental modes adopt the artifact
    # dir's recorded params; an explicit conflicting flag is an error
    # (ADVICE r4: mismatched num_perm silently detects nothing — the
    # zip_with over unequal-length signatures nulls out and every
    # near-dup passes through).
    ap.add_argument("--num-perm", type=int, default=None)
    ap.add_argument("--bands", type=int, default=None)
    ap.add_argument("--exact-only", action="store_true",
                    help="hash-exact dedup only (skip near-dup LSH)")
    ap.add_argument("--mode", default=None,
                    choices=["two-stage", "exact", "substring",
                             "artifacts", "vs-corpus", "winnow",
                             "winnow-artifacts", "winnow-vs-corpus"],
                    help="dedup family (default two-stage LSH; "
                         "--exact-only is shorthand for --mode exact; "
                         "'artifacts' writes the corpus-side state "
                         "[hashes/ + sigs/] for later incremental runs, "
                         "'vs-corpus' dedups --input against "
                         "--corpus-artifacts; 'artifacts' WITH "
                         "--corpus-artifacts appends the accepted "
                         "batch's deltas to that dir instead; the "
                         "winnow-* twins are the same contract for the "
                         "exact-guarantee winnowing artifact [fps/ + "
                         "freq/] — winnow-artifacts appends are exact "
                         "by construction, no re-sketching)")
    ap.add_argument("--corpus-artifacts", default=None,
                    help="dir written by --mode artifacts (vs-corpus: "
                         "read; artifacts: append deltas in place)")
    ap.add_argument("--tokens-col", default="tokens",
                    help="substring mode: token-array column")
    ap.add_argument("--winnow-k", type=int, default=None,
                    help="winnow: gram size k (default 4; winnow-vs-"
                         "corpus/append adopt the artifact dir's value "
                         "and refuse a conflicting explicit flag)")
    ap.add_argument("--winnow-w", type=int, default=None,
                    help="winnow: window size w (default 4; adoption "
                         "as --winnow-k)")
    ap.add_argument("--winnow-shared", type=int, default=2,
                    help="winnow: min shared fingerprints per pair")
    ap.add_argument("--winnow-maxfreq", type=int, default=20,
                    help="winnow: drop fingerprints in more docs")
    ap.add_argument("--span-len", type=int, default=50,
                    help="substring mode: duplicated-window length")
    args = ap.parse_args()
    mode = args.mode or ("exact" if args.exact_only else "two-stage")

    from pyspark.sql import functions as F

    from fluent_bit_spark.operators import dedup as DD
    from fluent_bit_spark.session import get_spark

    spark = get_spark(app_name="run_dedup")
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    # Artifact-parameter contract (ADVICE r4): --mode artifacts records
    # its sketch params in <dir>/params.json; the incremental modes
    # ADOPT them and refuse an explicitly conflicting flag. Without
    # this, a vs-corpus run at a different num_perm silently detects
    # nothing: zip_with over unequal-length signature arrays yields
    # null comparisons that filter out, and band hashes never collide.
    DEFAULTS = {"num_perm": 16, "bands": 4, "shingle_n": 3,
                "hash_fn": "xxhash64"}
    num_perm = args.num_perm if args.num_perm is not None \
        else DEFAULTS["num_perm"]
    bands = args.bands if args.bands is not None else DEFAULTS["bands"]
    shingle_n, hash_fn = DEFAULTS["shingle_n"], DEFAULTS["hash_fn"]
    sketch_params = {"num_perm": num_perm, "bands": bands,
                     "shingle_n": shingle_n, "hash_fn": hash_fn}
    if args.corpus_artifacts:
        from fluent_bit_spark.plans import fsio
        ppath = f"{args.corpus_artifacts}/params.json"
        if fsio.exists(spark, ppath):
            rec = fsio.read_json(spark, ppath)
            for flag, explicit in (("num-perm", args.num_perm),
                                   ("bands", args.bands)):
                key = flag.replace("-", "_")
                if explicit is not None and key in rec \
                        and explicit != rec[key]:
                    ap.error(
                        f"--{flag} {explicit} conflicts with {ppath} "
                        f"({key}={rec[key]}): the artifacts were "
                        f"sketched with that value and comparisons "
                        f"under a different one are silently empty")
            num_perm = rec.get("num_perm", num_perm)
            bands = rec.get("bands", bands)
            shingle_n = rec.get("shingle_n", shingle_n)
            hash_fn = rec.get("hash_fn", hash_fn)
            sketch_params = {"num_perm": num_perm, "bands": bands,
                             "shingle_n": shingle_n, "hash_fn": hash_fn}

    # Winnow-artifact parameter contract — the same adoption/refusal
    # rule as the MinHash block above: (k, w) select DIFFERENT
    # fingerprint sets, so a probe under mismatched params silently
    # detects nothing. winnow-artifacts stamps kind=winnow so a minhash
    # dir can't be probed as a winnow one (fps/ would be missing, but
    # fail on params, not on a read error).
    wk = args.winnow_k if args.winnow_k is not None else 4
    ww = args.winnow_w if args.winnow_w is not None else 4
    if args.corpus_artifacts and mode in ("winnow-artifacts",
                                          "winnow-vs-corpus"):
        from fluent_bit_spark.plans import fsio
        ppath = f"{args.corpus_artifacts}/params.json"
        if fsio.exists(spark, ppath):
            rec = fsio.read_json(spark, ppath)
            if rec.get("kind") != "winnow":
                ap.error(f"{args.corpus_artifacts} is not a winnowing "
                         f"artifact dir (params.json kind="
                         f"{rec.get('kind')!r}); point --corpus-"
                         f"artifacts at a --mode winnow-artifacts dir")
            for flag, explicit, key in (
                    ("winnow-k", args.winnow_k, "k"),
                    ("winnow-w", args.winnow_w, "w")):
                if explicit is not None and key in rec \
                        and explicit != rec[key]:
                    ap.error(
                        f"--{flag} {explicit} conflicts with {ppath} "
                        f"({key}={rec[key]}): the artifact was "
                        f"fingerprinted with that value and probes "
                        f"under a different one are silently empty")
            wk, ww = rec.get("k", wk), rec.get("w", ww)

    if mode == "winnow-artifacts":
        # maintained winnowing artifact: fps/ = distinct (id, fp) rows,
        # freq/ = (fp, n_docs) deltas for the boilerplate guard. With
        # --corpus-artifacts the batch's rows are APPENDED — exact by
        # construction (fingerprint selection is per-document:
        # artifact(corpus ∪ batch) == artifact(corpus) ∪
        # artifact(batch); no re-sketching, unlike MinHash sig dirs).
        # freq/ holds per-append deltas; readers re-aggregate
        # sum(n_docs) per fp (winnow-vs-corpus below does).
        from fluent_bit_spark.operators.tokens import winnow_corpus_fp
        from fluent_bit_spark.plans import fsio
        toks = docs.withColumn("__t", F.split(F.col(args.text_col), " "))
        fps = winnow_corpus_fp(toks, args.id_col, "__t", k=wk, w=ww)
        wparams = {"kind": "winnow", "k": wk, "w": ww}
        if args.corpus_artifacts:
            tgt = args.corpus_artifacts
            if not fsio.exists(spark, f"{tgt}/params.json"):
                fsio.write_json_atomic(spark, f"{tgt}/params.json",
                                       wparams)
            write_mode = "append"
        else:
            tgt = args.output
            fsio.write_json_atomic(spark, f"{tgt}/params.json", wparams)
            write_mode = "overwrite"
        fps.write.mode(write_mode).parquet(f"{tgt}/fps")
        # freq delta from THIS batch alone (cost ∝ batch, not corpus;
        # re-derives the batch fps — a persist would also work, but the
        # map-only derivation is cheaper than caching it)
        (fps.groupBy("fp").agg(F.count("*").alias("n_docs"))
         .write.mode(write_mode).parquet(f"{tgt}/freq"))
        # batch-bounded metric only: counting {tgt}/fps after an append
        # would cost a corpus-sized scan per ingest batch
        n_fp_batch = fps.count()
        print(json.dumps({"mode": f"winnow-artifacts-{write_mode}",
                          "rows_in": n_in,
                          "fingerprints_batch": int(n_fp_batch),
                          "k": wk, "w": ww,
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0

    if mode == "winnow-vs-corpus":
        if not args.corpus_artifacts:
            ap.error("--mode winnow-vs-corpus needs --corpus-artifacts")
        from fluent_bit_spark.operators.tokens import winnow_vs_corpus
        fps = spark.read.parquet(f"{args.corpus_artifacts}/fps")
        try:
            freq = (spark.read
                    .parquet(f"{args.corpus_artifacts}/freq")
                    .groupBy("fp")
                    .agg(F.sum("n_docs").alias("n_docs")))
        except Exception:
            freq = None  # pre-freq artifact dir: derived from fps/
        toks = docs.withColumn("__t", F.split(F.col(args.text_col), " "))
        survivors = winnow_vs_corpus(
            toks, fps, id_col=args.id_col, tokens_col="__t",
            k=wk, w=ww, min_shared=args.winnow_shared,
            max_fp_freq=args.winnow_maxfreq,
            corpus_freq=freq).drop("__t")
        survivors.write.mode("overwrite").parquet(
            f"{args.output}/deduped")
        n_out = spark.read.parquet(f"{args.output}/deduped").count()
        print(json.dumps({"mode": "winnow-vs-corpus", "rows_in": n_in,
                          "rows_out": n_out, "dropped": n_in - n_out,
                          "k": wk, "w": ww,
                          "wall_sec": round(time.time() - t0, 2)}))
        # conservation: every input row is either a survivor or dropped
        return 0 if 0 <= n_out <= n_in else 2

    if mode == "winnow":
        # winnowing-fingerprint candidate pairs + anti-join survivors:
        # the exact-guarantee near-dup pass (operators/tokens.py
        # winnow_overlap_pairs) — any shared run of >= w+k-1 tokens
        # always collides, so --winnow-shared 1 is the recall floor
        from fluent_bit_spark.operators.tokens import (
            winnow_overlap_pairs,
        )
        toks = docs.withColumn("__t", F.split(F.col(args.text_col), " "))
        pairs = winnow_overlap_pairs(
            toks, id_col=args.id_col, tokens_col="__t",
            k=wk, w=ww,
            min_shared=args.winnow_shared,
            max_fp_freq=args.winnow_maxfreq)
        pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
        pairs_r = spark.read.parquet(f"{args.output}/pairs")
        drop = pairs_r.select(F.col("id_b").alias(args.id_col)).distinct()
        survivors = docs.join(drop, args.id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(
            f"{args.output}/deduped")
        n_pairs = pairs_r.count()
        n_out = spark.read.parquet(f"{args.output}/deduped").count()
        n_drop = drop.count()
        print(json.dumps({"mode": "winnow", "rows_in": n_in,
                          "pairs": int(n_pairs),
                          "rows_dropped": int(n_drop),
                          "rows_out": int(n_out),
                          "wall_sec": round(time.time() - t0, 2)}))
        # conservation: survivors + dropped == input
        return 0 if n_out + n_drop == n_in else 2

    if mode == "substring":
        from fluent_bit_spark.operators.tokens import substring_dedup
        cleaned = substring_dedup(docs, length=args.span_len,
                                  id_col=args.id_col,
                                  tokens_col=args.tokens_col,
                                  hash_fn="xxhash64")
        cleaned.write.mode("overwrite").parquet(f"{args.output}/cleaned")
        from fluent_bit_spark.caching import release
        release(cleaned)
        agg = (spark.read.parquet(f"{args.output}/cleaned")
               .agg(F.count("*").alias("n"),
                    F.sum("n_before").alias("before"),
                    F.sum("n_removed").alias("removed")).first())
        print(json.dumps({"mode": "substring", "rows_in": n_in,
                          "rows_out": int(agg["n"]),
                          "tokens_before": int(agg["before"] or 0),
                          "tokens_removed": int(agg["removed"] or 0),
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0 if int(agg["n"]) == n_in else 2

    if mode == "artifacts" and args.corpus_artifacts:
        # fold-in: --input is an ACCEPTED batch (e.g. the vs-corpus
        # survivors) and --corpus-artifacts the maintained tables.
        # Deltas are computed from the batch alone and APPENDED — the
        # corpus side is never re-read (cost ∝ batch, not corpus).
        tgt = args.corpus_artifacts
        from fluent_bit_spark.plans import fsio
        if not fsio.exists(spark, f"{tgt}/params.json"):
            # older dir: stamp the (adopted-or-default) params so the
            # next run validates instead of trusting flags
            fsio.write_json_atomic(spark, f"{tgt}/params.json",
                                   sketch_params)
        dh, ds, dbt = DD.append_corpus_artifacts(
            docs, args.id_col, args.text_col, num_perm=num_perm,
            bands=bands, shingle_n=shingle_n, hash_fn=hash_fn)
        dh.write.mode("append").parquet(f"{tgt}/hashes")
        ds.write.mode("append").parquet(f"{tgt}/sigs")
        # only append bands if the maintained dir HAS a band table — a
        # delta-only bands/ would make later vs-corpus runs miss every
        # pre-existing corpus candidate silently
        try:
            spark.read.parquet(f"{tgt}/bands").schema
            has_bands = True
        except Exception:
            has_bands = False
        if has_bands:
            dbt.write.mode("append").parquet(f"{tgt}/bands")
        print(json.dumps({"mode": "artifacts-append", "rows_in": n_in,
                          "bands_appended": has_bands,
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0

    if mode == "artifacts":
        hashes, sigs = DD.corpus_artifacts(
            docs, args.id_col, args.text_col, num_perm=num_perm,
            shingle_n=shingle_n, hash_fn=hash_fn)
        hashes.write.mode("overwrite").parquet(f"{args.output}/hashes")
        sigs.write.mode("overwrite").parquet(f"{args.output}/sigs")
        from fluent_bit_spark.plans import fsio
        fsio.write_json_atomic(spark, f"{args.output}/params.json",
                               sketch_params)
        # pre-expanded band table so per-batch runs skip the corpus-side
        # band expansion; on a catalog-backed cluster, write this with
        # sources.tables.write_bucketed(bands, tbl, ["band", "bh"])
        # instead — the bucketed layout makes the per-batch band join
        # exchange-free on the corpus side (plan-asserted in
        # tests/test_plan_shape.py)
        sigs = spark.read.parquet(f"{args.output}/sigs")
        DD.corpus_band_table(sigs, num_perm=num_perm,
                             bands=bands, hash_fn=hash_fn) \
            .write.mode("overwrite").parquet(f"{args.output}/bands")
        n_h = spark.read.parquet(f"{args.output}/hashes").count()
        n_s = spark.read.parquet(f"{args.output}/sigs").count()
        print(json.dumps({"mode": "artifacts", "rows_in": n_in,
                          "distinct_hashes": n_h, "signatures": n_s,
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0

    if mode == "vs-corpus":
        if not args.corpus_artifacts:
            ap.error("--mode vs-corpus needs --corpus-artifacts")
        hashes = spark.read.parquet(f"{args.corpus_artifacts}/hashes")
        sigs = spark.read.parquet(f"{args.corpus_artifacts}/sigs")
        try:
            bands_tbl = spark.read.parquet(
                f"{args.corpus_artifacts}/bands")
        except Exception:
            bands_tbl = None        # pre-bands artifact dir (older run)
        survivors = DD.dedup_vs_corpus(
            docs, args.id_col, args.text_col, hashes, sigs,
            num_perm=num_perm, bands=bands, shingle_n=shingle_n,
            hash_fn=hash_fn, threshold=args.jaccard,
            corpus_bands=bands_tbl)
        survivors.write.mode("overwrite").parquet(f"{args.output}/deduped")
        from fluent_bit_spark.caching import release
        release(survivors)
        n_out = spark.read.parquet(f"{args.output}/deduped").count()
        print(json.dumps({"mode": "vs-corpus", "rows_in": n_in,
                          "rows_out": n_out, "dropped": n_in - n_out,
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0

    if mode == "exact":
        kept = DD.exact_dedup(docs, [args.text_col], tiebreak=args.id_col)
        kept.write.mode("overwrite").parquet(f"{args.output}/deduped")
        n_out = spark.read.parquet(f"{args.output}/deduped").count()
        print(json.dumps({"mode": "exact", "rows_in": n_in,
                          "rows_out": n_out,
                          "dropped": n_in - n_out,
                          "wall_sec": round(time.time() - t0, 2)}))
        return 0

    pairs = DD.lsh_verified_pairs(
        docs, args.id_col, args.text_col, num_perm=num_perm,
        bands=bands, jaccard_threshold=args.jaccard,
        materialize=True)
    pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
    pairs = spark.read.parquet(f"{args.output}/pairs")  # reuse, not rebuild

    membership = DD.resolve_duplicate_groups(docs, pairs, args.id_col)
    membership.write.mode("overwrite").parquet(f"{args.output}/membership")
    membership = spark.read.parquet(f"{args.output}/membership")

    kept_ids = membership.filter(F.col("keep")).select(args.id_col)
    deduped = docs.join(kept_ids, args.id_col, "left_semi")
    deduped.write.mode("overwrite").parquet(f"{args.output}/deduped")

    n_pairs = pairs.count()
    n_out = spark.read.parquet(f"{args.output}/deduped").count()
    print(json.dumps({
        "mode": "two-stage-lsh", "rows_in": n_in, "near_dup_pairs": n_pairs,
        "rows_out": n_out, "dropped": n_in - n_out,
        "wall_sec": round(time.time() - t0, 2)}))
    # no spark.stop(): spark-submit tears the JVM down at exit, and an
    # in-suite main() call must not kill the caller's shared session
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
