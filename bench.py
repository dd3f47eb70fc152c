"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, ...}

Each query is forced with a noop-format write (out_null analogue,
SURVEY.md §2.1) so timing covers the full plan, not driver collect.

The end-to-end pipeline throughput figure (``pipeline_rows_per_sec``,
the north-star sequences/sec number) is the MIN-OF-3 wall across three
FRESH-JVM subprocess runs (``--pipeline-only`` mode) — a single
same-JVM run swings ±20-40% with co-tenant load on this shared guest
(BENCH/BASELINE.md variance note; VERDICT r2), while min-of-N across
fresh JVMs is the standard noise-robust estimator. All three walls are
reported in ``pipeline_runs_sec``. Per-query headline walls are
MIN-OF-3 with caches cleared between the runs (single runs flapped
1.5-4× on disjoint query sets across back-to-back identical-code
executions). The local[8]-vs-local[32] scaling evidence lives in
tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative of SURVEY.md §2 operator families: parse, filter,
# enrich-join, route+agg (flagship), salted skew agg, windows, dedup.
HEADLINE = [
    "route_agg",
    "parse_json_props",
    "grep_filter",
    "enrich_lookup",
    "salted_agg",
    "tumbling_agg",
    "topk_per_group",
    "agg_pushdown_q1",
    "dedup_exact",
    "multiline_join",
    "multiline_cri",
    "decoder_escaped",
    "geoip_range_lookup",
    "grok_parse",
    "nb_quality",
    "bigram_surprisal",
    "asof_enrich",
    "rollup_agg",
    "sp_sql_window",
    # r3 token-sequence training-data ops (operators/tokens.py)
    "pack_sequences",
    "line_dedup_c4",
    # r4 quality pipeline (operators/tokens.py unigram_surprisal)
    "unigram_surprisal",
    # r4 late: substring-span dedup
    "substring_dedup",
    # r5: order-3 surprisal, sink payload
    # codecs (window+agg shapes), framed-source decode (Arrow kernel)
    "trigram_surprisal",
    "serialize_es_bulk",
    "serialize_loki_push",
    "syslog_octet_roundtrip",
    # r5 late: DSIR importance resampling (K-bounded hashed-feature
    # model + broadcast scoring + Gumbel top-k)
    "dsir_select",
    # r5 late: CMS sketch + corpus-audit shapes (bounded cell agg /
    # vocab-bounded rank window)
    "cms_heavy_hitters",
    "zipf_coverage",
    # r5 final: winnowing fingerprints (map-only HOF fold), hybrid
    # retrieval fusion (one composite bm25 scan + RRF)
    "winnow_fingerprint_digest",
    "rrf_hybrid_topk",
    # r5 final: incremental winnowing dedup
    "winnow_vs_corpus",
    # r5 final: dataloader-materialization ops — FIM rewrite (map-only
    # slice+concat), length-bucketed batching (two-phase prefix count),
    # packed-attention masks (map-only HOF over doc_starts), and the
    # alpha-weighted mixture sample (K-row weights + map-only filter)
    "fim_transform",
    "bucket_batches",
    "pack_masks",
    "temperature_mixture",
    # r5 final: KN-smoothed bigram scoring (pair shuffle join + vocab-
    # bounded broadcasts) and the HLL distinct sketch (K-bounded agg)
    "kn_surprisal",
    "hll_distinct",
    "span_corrupt",
    "ul2_mixture",
    "render_chat",
    "remap_vocab",
    "sft_render_pack",
    "decontaminate_spans",
    "ngram_repetition",
    "corpus_drift",
]

PIPELINE_RUNS = int(os.environ.get("SPARK_GRAFT_PIPELINE_RUNS", "5"))


def force(df) -> int:
    """Force full evaluation without driver-side materialisation."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _tokens_paths() -> tuple[str, str, int]:
    # 32-file fixture: a 10^12-row table is MANY files (scan
    # parallelism + per-file slice checkpointing key off file
    # boundaries); the old single-file fixture planned a 1-2-partition
    # scan that ran the Arrow parse on 1-2 of 32 cores and understated
    # steady-state throughput ~30% (measured 95k → 124k+ rows/s).
    tok_path = os.environ.get(
        "SPARK_GRAFT_TOKENS", "/tmp/bench_tokens_32f.parquet")
    lk_path = "/tmp/bench_lookup.parquet"
    n_rows = int(os.environ.get("SPARK_GRAFT_TOKENS_ROWS", "200000"))
    return tok_path, lk_path, n_rows


def _ensure_tokens() -> None:
    import shutil

    import pyarrow.parquet as pq

    from fluent_bit_spark import fixtures as fx
    tok_path, lk_path, n_rows = _tokens_paths()
    if os.path.exists(tok_path):
        # Staleness guard: a cached fixture generated under a different
        # SPARK_GRAFT_TOKENS_ROWS silently rescales every flagship
        # number (a 50k-row leftover once read as a 5x throughput
        # "regression"). Row count is cheap from parquet footers.
        try:
            cached = sum(
                pq.ParquetFile(os.path.join(tok_path, f)).metadata.num_rows
                for f in os.listdir(tok_path) if f.endswith(".parquet"))
        except Exception:
            cached = -1
        if cached != n_rows:
            shutil.rmtree(tok_path, ignore_errors=True)
    if not os.path.exists(tok_path):
        fx.generate_tokens_table(tok_path, n_rows, n_files=32)
    if not os.path.exists(lk_path):
        fx.generate_lookup_table(lk_path)


def measure_pipeline(spark) -> tuple[int, float]:
    """One timed run of the north-star parse→enrich→route→aggregate
    pipeline over the synthetic tokens table (input_hint schema),
    noop fan-out. Returns (rows, wall_sec)."""
    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.operators.router import Route
    from fluent_bit_spark.plans.pipeline import (
        PipelineSpec, build_stages, slice_metrics,
    )
    tok_path, lk_path, _ = _tokens_paths()
    spec = PipelineSpec(
        vocab=fx.vocab(),
        routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
        lookup_path=lk_path,
    )
    df = spark.read.parquet(tok_path)
    rows = df.count()
    t0 = time.perf_counter()
    routed = build_stages(spark, df, spec)
    force(slice_metrics(routed, spec.salt_buckets))
    return rows, time.perf_counter() - t0


def pipeline_only(cpus: str) -> int:
    """Subprocess mode: fresh JVM, one pipeline measurement, one JSON
    line on stdout."""
    from fluent_bit_spark.session import get_spark
    _ensure_tokens()
    spark = get_spark(app_name="bench-pipeline",
                      master=f"local[{cpus}]")
    # Full untimed warm-up run of the SAME plan: a fresh JVM pays
    # JIT + whole-stage-codegen compilation on first execution (~2s of
    # a ~3s wall at this sf), which amortizes to nothing over a 100 TB
    # run — steady-state throughput is the honest north-star figure.
    measure_pipeline(spark)
    rows, wall = measure_pipeline(spark)
    print(json.dumps({"rows": rows, "wall_sec": wall}))
    spark.stop()
    return 0


def pipeline_min_of_n(cpus: str) -> dict:
    """Run ``--pipeline-only`` in PIPELINE_RUNS fresh-JVM subprocesses
    and keep the best (min) wall."""
    walls: list[float] = []
    rows = None
    err = None
    for _ in range(PIPELINE_RUNS):
        # One wedged/failed subprocess must not void the completed
        # runs (observed rarely in this sandbox: a pyspark worker
        # daemon fork-deadlock leaves the JVM waiting on Arrow input
        # forever) — report min-of-the-rest instead.
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--pipeline-only"],
                capture_output=True, text=True, timeout=600,
                env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)},
            )
        except subprocess.TimeoutExpired:
            err = "pipeline run exceeded 600s (wedged worker?)"
            continue
        if proc.returncode != 0:
            err = (proc.stderr or proc.stdout)[-200:]
            continue
        line = proc.stdout.strip().splitlines()[-1]
        parsed = json.loads(line)
        rows = parsed["rows"]
        walls.append(parsed["wall_sec"])
    if not walls:
        return {"pipeline_error": err or "no completed runs"}
    best = min(walls)
    return {
        "pipeline_rows": rows,
        "pipeline_sec": round(best, 3),
        "pipeline_rows_per_sec": round(rows / best, 1),
        "pipeline_runs_sec": [round(w, 3) for w in walls],
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32))
    if "--pipeline-only" in sys.argv:
        return pipeline_only(cpus)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    import __spark_entry__ as entrymod
    from fluent_bit_spark.session import get_spark

    _ensure_tokens()
    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    queries = entrymod.queries()

    # Warm the JVM + Arrow path once (excluded from timings).
    force(queries["route_agg"](spark, sf_dir))

    times: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        # MIN-OF-2 per query: single-run walls on this guest flap with
        # co-tenant bursts (observed same-day: disjoint "regressed"
        # sets on back-to-back runs of identical code, 1.5-4x swings on
        # sub-second queries). Caches are cleared between the two runs,
        # so the min is a genuine re-execution, not cache reuse.
        def _cleanup():
            # Cache hygiene: operators with an internal persist
            # (line_dedup) cannot unpersist before their result is
            # consumed; orphan blocks otherwise accumulate across the
            # shared-JVM loop and tax later queries (measured 4s -> 30s
            # on a same-JVM re-run).
            import gc
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()

        walls = []
        for _ in range(3):
            # MIN-OF-3: min-of-2 still flagged a different phantom
            # "regression" on every back-to-back identical-code run
            # (co-tenant churn); the third sample costs ~30% more bench
            # wall and removes the flap class entirely.
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            walls.append(time.perf_counter() - t0)
            _cleanup()
        times[name] = round(min(walls), 3)
    spark.stop()

    # North-star figure: min-of-N fresh-JVM subprocess runs (noise-
    # robust — see module docstring). Runs AFTER spark.stop() so the
    # subprocesses don't compete with the headline session for cores.
    try:
        extra = pipeline_min_of_n(cpus)
    except Exception as e:  # bench must still emit its JSON line
        extra = {"pipeline_error": str(e)[:200]}

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "headline query wall time (parse/route/agg/dedup/ANN)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": int(cpus) if str(cpus).isdigit() else cpus,
        **extra,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
