"""spark-submit entry point for end-to-end web-corpus curation.

Chains the curation operators in the order the public pipelines run
them (C4/RefinedWeb): HTML→text extraction → unicode normalization →
PII redaction → language ID + Gopher quality gate → per-host cap.
Every stage is map-only Catalyst except the per-host cap (the exact
salted two-phase top-n) — the whole job has at most one wide stage.

Usage:

    zip -r engine.zip fluent_bit_spark
    spark-submit --master local[32] --py-files engine.zip \
        jobs/run_curate.py --input /path/pages.parquet \
        --output /path/curated \
        [--html-col html] [--text-col text] [--form NFC] [--lower] \
        [--redact] [--gopher] [--url-col url --cap 1000 --salt 16]

Outputs under --output:
    kept/      curated rows (text_plain/norm/redaction applied,
               lang + gq_reasons stamps when enabled)
    dropped/   rows failing the Gopher gate or the host cap (with
               a drop_reason column) — the audit trail
Prints one JSON line with exact conservation (kept + dropped == in).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="web-corpus curation chain")
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--html-col", default=None,
                    help="extract text from this HTML column first")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--form", default="none",
                    choices=["NFC", "NFKC", "NFD", "NFKD", "none"],
                    help="unicode normalization form (none = skip the "
                         "Python boundary entirely)")
    ap.add_argument("--lower", action="store_true")
    ap.add_argument("--collapse-ws", action="store_true")
    ap.add_argument("--redact", action="store_true",
                    help="PII scrub + *_hits audit columns")
    ap.add_argument("--lang", action="store_true",
                    help="stamp lang (marker heuristic)")
    ap.add_argument("--gopher", action="store_true",
                    help="Gopher quality gate: failures → dropped/")
    ap.add_argument("--ensemble", default=None, metavar="SQLEXPR",
                    help="multi-signal quality gate (supersedes "
                         "--gopher, whose bits it includes): SQL "
                         "boolean expr naming the NB exemplar class, "
                         "e.g. \"lang = 'en'\"; combined Gopher + NB "
                         "+ surprisal-band bitmask, failures → "
                         "dropped/ with ens_reasons kept for audit")
    ap.add_argument("--ensemble-nbmin", type=int, default=0,
                    help="ensemble: min NB log-odds in milli-nats")
    ap.add_argument("--ensemble-band", type=int, default=5,
                    help="ensemble: max mean-surprisal 500-milli-nat "
                         "band")
    ap.add_argument("--url-col", default=None,
                    help="decompose URLs; with --cap, cap per host")
    ap.add_argument("--cap", type=int, default=0,
                    help="keep at most N docs per host (needs --url-col)")
    ap.add_argument("--salt", type=int, default=16,
                    help="salt buckets for the exact two-phase cap")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from fluent_bit_spark.functions.text import (
        gopher_filter, lang_id, pii_counts, redact,
    )
    from fluent_bit_spark.operators.web import (
        cap_per_host, html_to_text, normalize_text, url_parts,
    )
    from fluent_bit_spark.session import get_spark

    spark = get_spark(app_name="run_curate")
    t0 = time.time()
    df = spark.read.parquet(args.input)
    n_in = df.count()
    tcol = args.text_col

    if args.html_col:
        df = html_to_text(df, args.html_col, tcol)
    if args.form != "none" or args.lower or args.collapse_ws:
        df = normalize_text(df, tcol, form=args.form, lower=args.lower,
                            collapse_ws=args.collapse_ws)
    if args.redact:
        df = (df.select("*", *pii_counts(tcol))
                .withColumn(tcol, redact(tcol)))
    if args.lang:
        df = df.withColumn("lang_id", lang_id(tcol))
    if args.ensemble and args.gopher:
        ap.error("--ensemble already includes the Gopher bits; "
                 "pass one gate, not both")
    if args.ensemble:
        from fluent_bit_spark.operators.tokens import quality_ensemble
        ens = quality_ensemble(df, F.expr(args.ensemble),
                               text_col=tcol, id_cols=(args.id_col,),
                               nb_min_millinats=args.ensemble_nbmin,
                               band_max=args.ensemble_band)
        df = (df.join(ens, args.id_col)
                .withColumn("gq_keep", F.col("keep")).drop("keep"))
    elif args.gopher:
        df = gopher_filter(df, tcol)
    else:
        df = df.withColumn("gq_keep", F.lit(True))

    if args.cap > 0:
        if not args.url_col:
            ap.error("--cap needs --url-col")
        df = url_parts(df, args.url_col)
        good = df.filter("gq_keep")
        # NULL-host rows (unparseable URL) are EXEMPT from the cap
        # (ADVICE r4): u_host NULL would otherwise collect every
        # malformed-URL doc into one pseudo-host and keep at most
        # --cap of them globally — a drop the cap's per-host intent
        # never meant. The cap bounds per-HOST dominance; hostless
        # rows have no host to dominate.
        capped = cap_per_host(good.filter(F.col("u_host").isNotNull()),
                              "u_host",
                              [F.col(args.id_col)], args.cap,
                              salt_buckets=args.salt,
                              salt_key=args.id_col)
        kept = capped.unionByName(good.filter(F.col("u_host").isNull()))
        over = good.join(kept.select(args.id_col), args.id_col,
                         "left_anti") \
                   .withColumn("drop_reason", F.lit("host_cap"))
    else:
        kept = df.filter("gq_keep")
        over = df.limit(0).withColumn("drop_reason", F.lit(""))

    gq_drop = (df.filter(~F.col("gq_keep"))
               .withColumn("drop_reason",
                           F.lit("ensemble" if args.ensemble
                                 else "gopher")))
    dropped = gq_drop.unionByName(over)
    kept = kept.drop("gq_keep")
    dropped = dropped.drop("gq_keep")

    kept.write.mode("overwrite").parquet(f"{args.output}/kept")
    dropped.write.mode("overwrite").parquet(f"{args.output}/dropped")
    n_kept = spark.read.parquet(f"{args.output}/kept").count()
    n_drop = spark.read.parquet(f"{args.output}/dropped").count()
    conserved = (n_kept + n_drop == n_in)
    print(json.dumps({"docs_in": n_in, "kept": n_kept,
                      "dropped": n_drop, "conserved": conserved,
                      "wall_sec": round(time.time() - t0, 2)}))
    # no spark.stop(): spark-submit tears the JVM down at exit, and an
    # in-suite main() call must not kill the caller's shared session
    return 0 if conserved else 2


if __name__ == "__main__":
    raise SystemExit(main())
