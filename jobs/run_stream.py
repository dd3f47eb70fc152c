"""spark-submit entry for the Structured Streaming pipeline — the
live-tail deployment (in_tail posture; SURVEY.md §3.4 entry points).

    zip -r engine.zip fluent_bit_spark
    spark-submit --master local[32] --py-files engine.zip \
        jobs/run_stream.py --landing /data/landing --output /data/out \
        [--continuous] [--gen-rows N]

Default drains what is currently in the landing dir (availableNow) and
exits — deterministic backfill mode; ``--continuous`` tails forever.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="fluent_bit_spark stream")
    ap.add_argument("--landing", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--gen-rows", type=int, default=0)
    ap.add_argument("--lookup", default=None)
    ap.add_argument("--windowed-agg", action="store_true",
                    help="also run the SP windowed-counts sink "
                         "(append-mode parquet under output/windowed_counts)")
    ap.add_argument("--window", default="10 seconds")
    ap.add_argument("--ts-expr", default="current_timestamp()",
                    help="SQL expr for event time (default: ingest time, "
                         "the reference's processing-time posture)")
    ap.add_argument("--soak-rate", type=int, default=0,
                    help="rows/sec: run the rate-source soak instead of "
                         "the landing-dir drain")
    ap.add_argument("--soak-seconds", type=int, default=30)
    ap.add_argument("--pack-ctx", type=int, default=0,
                    help="also run the continuous sequence-packing sink "
                         "at this context length (append-mode parquet "
                         "under output/packed)")
    ap.add_argument("--config", default=None,
                    help="fluent-bit-style config file (.yaml/.yml or "
                         "classic .conf) defining the pipeline — same "
                         "front end as jobs/run_pipeline.py; the stage "
                         "builders are shared between batch and "
                         "streaming, so one config drives both")
    args = ap.parse_args()

    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.operators.router import Route
    from fluent_bit_spark.plans.pipeline import PipelineSpec
    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.streaming.stream_pipeline import \
        start_pipeline_stream, start_windowed_agg_stream

    if args.gen_rows and not os.path.exists(args.landing):
        fx.generate_tokens_table(
            os.path.join(args.landing, "f0.parquet"), args.gen_rows)
    lookup = args.lookup
    if lookup is None:
        lookup = os.path.join(args.output, "_dims", "lookup_sources.parquet")
        if not os.path.exists(lookup):
            fx.generate_lookup_table(lookup)

    spark = get_spark(app_name="logpipe-stream")
    if args.config:
        from fluent_bit_spark.plans.config import spec_from_config
        from fluent_bit_spark.plans.filters import lookup_filter
        spec, _ = spec_from_config(args.config)
        if all(n != "lookup" for n, _, _ in spec.filters):
            spec.filters.insert(0, lookup_filter(lookup))
    else:
        spec = PipelineSpec(
            vocab=fx.vocab(),
            routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
            lookup_path=lookup,
        )
    if args.soak_rate:
        report = run_soak(spark, spec, args.landing, args.soak_rate,
                          args.soak_seconds)
        print(json.dumps(report))
        spark.stop()
        return 0

    q = start_pipeline_stream(spark, spec, args.landing, args.output,
                              available_now=not args.continuous)
    qw = None
    if args.windowed_agg:
        qw = start_windowed_agg_stream(
            spark, spec, args.landing, args.output,
            window=args.window, ts_expr=args.ts_expr,
            available_now=not args.continuous)
    qp = None
    if args.pack_ctx:
        from fluent_bit_spark.streaming.stream_pipeline import (
            pack_stateful, read_tokens_stream,
        )
        packed = pack_stateful(read_tokens_stream(spark, args.landing),
                               ctx_len=args.pack_ctx)
        qp = (packed.writeStream.outputMode("append").format("parquet")
              .option("path", os.path.join(args.output, "packed"))
              .option("checkpointLocation",
                      os.path.join(args.output, "_pack_ckpt")))
        if not args.continuous:
            qp = qp.trigger(availableNow=True)
        qp = qp.start()
    q.awaitTermination()
    if qw is not None:
        qw.awaitTermination()
    if qp is not None:
        qp.awaitTermination()
    print(json.dumps({"stopped": True, "output": args.output,
                      "windowed_agg": bool(qw), "packed": bool(qp)}))
    spark.stop()
    return 0


def run_soak(spark, spec, pool_path: str, rate: int, seconds: int) -> dict:
    """Rate-source soak: drive the full stage chain at ``rate`` rows/sec
    for ``seconds``, sink = per-batch count only (out_null), report
    achieved throughput from the query progress log. The pool table
    (``--landing``) supplies real token content; the rate source
    replays it with unique doc_ids."""
    import time

    from pyspark.sql import functions as F

    from fluent_bit_spark.streaming.stream_pipeline import (
        build_stream_stages, rate_tokens_stream)

    pool = spark.read.parquet(pool_path)
    stream = rate_tokens_stream(spark, pool, rate)
    routed = build_stream_stages(spark, stream, spec)
    totals = {"rows": 0, "dlq": 0}

    def count_batch(df, batch_id):
        agg = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("dlq_reason").isNotNull().cast("long")).alias("d")
        ).collect()[0]
        totals["rows"] += agg.n or 0
        totals["dlq"] += agg.d or 0

    q = (routed.writeStream.foreachBatch(count_batch)
         .option("checkpointLocation", "/tmp/_soak_ckpt_" + str(os.getpid()))
         .start())
    t0 = time.time()
    q.awaitTermination(seconds)
    q.stop()
    q.awaitTermination()
    wall = time.time() - t0
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return {
        "soak_rate_requested": rate,
        "soak_seconds": round(wall, 1),
        "rows": totals["rows"],
        "dlq": totals["dlq"],
        "batches": len(batches),
        "achieved_rows_per_sec": round(totals["rows"] / max(wall, 0.001), 1),
    }


if __name__ == "__main__":
    raise SystemExit(main())
