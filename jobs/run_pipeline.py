"""spark-submit entry point for the log pipeline.

Usage (BASELINE.json north_rule packaging):

    zip -r engine.zip fluent_bit_spark
    spark-submit --master local[32] --py-files engine.zip \
        jobs/run_pipeline.py --input /path/tokens.parquet \
        --output /path/out --slices 8 [--gen-rows N]

With ``--gen-rows N`` the job first synthesizes the deterministic F1
tokens table at the input path (sandbox mode — no external data).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from fluent_bit_spark.plans.pipeline import SOURCES

    ap = argparse.ArgumentParser(description="fluent_bit_spark pipeline")
    ap.add_argument("--input", required=True, help="tokens parquet path")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--slices", type=int, default=1)
    ap.add_argument("--sink-format", choices=["parquet", "json_lines"],
                    default="parquet",
                    help="sink payload format (out_file Format analogue)")
    ap.add_argument("--input-format", choices=list(SOURCES),
                    default="tokens",
                    help="tokens parquet (north-star schema), raw "
                         ".log text files (in_tail posture), "
                         "forward-protocol msgpack chunk files "
                         "(in_forward file subset), http "
                         "body-per-line capture files (in_http "
                         "file subset), kafka RecordBatch v2 "
                         "segment files (in_kafka file subset), or "
                         "systemd journal export captures "
                         "(in_systemd file subset)")
    ap.add_argument("--gen-rows", type=int, default=0,
                    help="synthesize the input first with N rows")
    ap.add_argument("--lookup", default=None,
                    help="enrichment dim parquet (default: generated); "
                         "with --config, used only if the config has no "
                         "lookup filter, as a Match * lookup that runs "
                         "before the config's filters")
    ap.add_argument("--config", default=None,
                    help="fluent-bit-style config file (.yaml/.yml or "
                         "classic .conf) defining the pipeline; CLI "
                         "--input/--output still name the data paths")
    args = ap.parse_args()

    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.operators.router import RewriteTagRule, Route
    from fluent_bit_spark.plans.pipeline import PipelineSpec, run_pipeline
    from fluent_bit_spark.session import get_spark

    import glob as _glob
    if not (os.path.exists(args.input) or _glob.glob(args.input)):
        if args.gen_rows:
            fx.generate_tokens_table(args.input, args.gen_rows)
        else:
            ap.error(f"input not found: {args.input} (use --gen-rows to "
                     f"synthesize)")
    spark = get_spark(app_name="logpipe")
    input_format = args.input_format
    if args.config:
        from fluent_bit_spark.plans.config import spec_from_config
        from fluent_bit_spark.plans.filters import lookup_filter
        spec, io = spec_from_config(args.config)
        if io["input_format"]:
            input_format = io["input_format"]
        if args.lookup and all(n != "lookup" for n, _, _ in spec.filters):
            spec.filters.insert(0, lookup_filter(args.lookup))
    else:
        lookup = args.lookup
        if lookup is None:
            lookup = os.path.join(args.output, "_dims",
                                  "lookup_sources.parquet")
            if not os.path.exists(lookup):
                fx.generate_lookup_table(lookup)
        spec = PipelineSpec(
            vocab=fx.vocab(),
            routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
            rewrite_rules=[RewriteTagRule(
                key="fields.level", pattern="^error$",
                new_tag="err.$TAG[1]", keep=True)],
            lookup_path=lookup,
            sink_format=args.sink_format,
        )
    stats = run_pipeline(spark, spec, args.input, args.output,
                         run_id=args.run_id, n_slices=args.slices,
                         input_format=input_format)
    # [SERVICE] Streams_File / [STREAM_TASK] sections: run each SP SQL
    # task over the tagged frame (lifecycle B on top of lifecycle A —
    # upstream:src/stream_processor/flb_sp.c runs tasks against the
    # engine's tagged record stream), one parquet dir per task.
    tasks = (io.get("stream_tasks") or []) if args.config else []
    if tasks:
        from fluent_bit_spark.plans.pipeline import read_tagged
        from fluent_bit_spark.plans.sql_shim import StreamProcessor
        tagged = read_tagged(spark, spec, input_format, args.input)
        sp = StreamProcessor(spark, tagged=tagged, tag_col="tag")
        for name, sql in tasks:
            (sp.sql(sql).write.mode("overwrite")
             .parquet(os.path.join(args.output, "stream_tasks", name)))
        stats["stream_tasks"] = [n for n, _ in tasks]
    rate = stats["rows_in"] / stats["wall_sec"] if stats["wall_sec"] else 0
    print(json.dumps({**stats, "rows_per_sec": round(rate, 1)}))
    # no spark.stop(): spark-submit tears the JVM down at exit, and an
    # in-suite main() shares the test session, which a stop would kill
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
