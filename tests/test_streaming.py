"""Structured Streaming pipeline tests (SURVEY.md §2.7 / §7.8).

Strategy: every streaming result is checked against the equivalent
BATCH computation on the same input — streaming/batch parity is the
golden oracle (the reference's runtime tests assert callback-captured
outputs; here the batch plan plays the reference role).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import fixtures as fx
from fluent_bit_spark.operators.router import Route
from fluent_bit_spark.plans.pipeline import PipelineSpec, build_stages
from fluent_bit_spark.streaming.stream_pipeline import (
    read_tokens_stream, start_pipeline_stream, throttle_stateful,
    windowed_tag_counts,
)

N = 2_000


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    """A landing dir with two parquet files (two in_tail 'rotations')."""
    d = str(tmp_path_factory.mktemp("landing"))
    fx.generate_tokens_table(os.path.join(d, "f0.parquet"), N, seed=42)
    fx.generate_tokens_table(os.path.join(d, "f1.parquet"), N, seed=43)
    return d


@pytest.fixture(scope="module")
def spec(fixture_paths):
    return PipelineSpec(
        vocab=fx.vocab(),
        routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
        lookup_path=fixture_paths["lookup"],
    )


def deterministic_ts(df):
    """Derive an event-time column from doc_id (deterministic: one row
    per second starting 2026-01-01, wrapping every 600s)."""
    sec = F.regexp_extract("doc_id", r"(\d+)", 1).cast("long") % 600
    return df.withColumn(
        "event_ts", F.timestamp_seconds(F.lit(1767225600) + sec))


def test_stream_batch_parity(spark, landing, spec, tmp_path):
    """foreachBatch fan-out produces exactly the batch routed row set."""
    out = str(tmp_path / "stream_out")
    q = start_pipeline_stream(spark, spec, landing, out)
    q.awaitTermination(300)

    batch = build_stages(spark, spark.read.parquet(landing), spec)
    for sink in ("sink_web", "sink_json", "sink_kv"):
        got = (spark.read.parquet(os.path.join(out, "sinks", sink))
               .select("doc_id").collect())
        want = (batch.filter(F.col("dlq_reason").isNull())
                .filter(F.array_contains("sinks", sink))
                .select("doc_id").collect())
        assert sorted(r.doc_id for r in got) == \
            sorted(r.doc_id for r in want), sink
    got_dlq = spark.read.parquet(os.path.join(out, "dlq")).count()
    want_dlq = batch.filter(F.col("dlq_reason").isNotNull()).count()
    assert got_dlq == want_dlq > 0
    # per-epoch lineage metrics sum to the batch totals
    m = (spark.read.option("recursiveFileLookup", "true")
         .parquet(os.path.join(out, "_metrics")))
    assert m.agg(F.sum("parse_fail")).collect()[0][0] == want_dlq
    assert "batch_id" in m.columns


def test_stream_resume_idempotent(spark, landing, spec, tmp_path):
    """Restarting a finished availableNow query re-writes nothing new
    (file-source checkpoint = tail offset-DB semantics)."""
    out = str(tmp_path / "stream_out2")
    start_pipeline_stream(spark, spec, landing, out).awaitTermination(300)
    before = spark.read.parquet(os.path.join(out, "sinks", "sink_web")).count()
    # second start with the SAME checkpoint: no files pending → no epochs
    start_pipeline_stream(spark, spec, landing, out).awaitTermination(300)
    after = spark.read.parquet(os.path.join(out, "sinks", "sink_web")).count()
    assert after == before


def test_windowed_counts_watermark(spark, landing, spec):
    """Event-time tumbling agg in streaming == batch groupBy(window)."""
    stream = deterministic_ts(
        build_stages(spark, read_tokens_stream(spark, landing), spec))
    agg = windowed_tag_counts(stream, window="60 seconds",
                              watermark="0 seconds")
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("win_counts")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r.win.start, r.tag): (r.records, r.n_tok_sum)
           for r in spark.sql("select * from win_counts").collect()}

    batch = deterministic_ts(build_stages(
        spark, spark.read.parquet(landing), spec))
    want = {((r.win.start, r.tag)): (r.records, r.n_tok_sum)
            for r in (batch.groupBy(
                F.window("event_ts", "60 seconds").alias("win"), "tag")
                .agg(F.count("*").alias("records"),
                     F.sum("n_tok").alias("n_tok_sum"))).collect()}
    assert got == want and len(got) > 10


def test_throttle_stateful_cross_batch(spark, landing, spec):
    """Rate limit holds across micro-batches: with maxFilesPerTrigger=1
    the same (tag, pane) seen in two batches shares one admitted counter."""
    rate, pane = 5, 60
    stream = deterministic_ts(
        build_stages(spark, read_tokens_stream(
            spark, landing, max_files_per_trigger=1), spec)) \
        .select("doc_id", "n_tok", "tag", "event_ts")
    lim = throttle_stateful(stream, rate=rate, pane_seconds=pane)
    q = (lim.writeStream.outputMode("append")
         .format("memory").queryName("throttled")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = spark.sql("select * from throttled").collect()
    assert rows
    per_pane: dict[tuple, int] = {}
    for r in rows:
        k = (r.tag, int(r.event_ts.timestamp()) // pane)
        per_pane[k] = per_pane.get(k, 0) + 1
    # pane counters never exceed rate even though each (tag, pane) spans
    # two micro-batches (both files contain the same doc_id-second mapping)
    assert max(per_pane.values()) <= rate
    # and the limiter actually dropped something
    total_in = spark.read.parquet(landing).count()
    assert len(rows) < total_in


def test_multiline_stateful_cross_batch_and_timeout(spark, tmp_path):
    """A group spanning micro-batches joins when the next start
    arrives; the last open group flushes via the event-time timeout
    (flb's flush timer) once the watermark passes it."""
    from fluent_bit_spark.streaming.stream_pipeline import (
        multiline_stateful,
    )
    d = str(tmp_path / "ml")
    schema = "stream string, sec int, line string"
    # coalesce(1): ONE part-file per batch — the join is arrival-order
    # dependent (as in flb), so the test pins arrival = file order
    spark.createDataFrame(
        [("s1", 0, "START a"), ("s1", 1, " cont1")], schema) \
        .coalesce(1).write.parquet(f"{d}/f0.parquet")
    spark.createDataFrame(
        [("s1", 2, " cont2"), ("s1", 3, "START b"), ("s1", 4, " contb")],
        schema).coalesce(1).write.parquet(f"{d}/f1.parquet")
    # far-future row advances the watermark past b's timeout horizon
    spark.createDataFrame(
        [("s2", 1000, "lonely line")], schema) \
        .coalesce(1).write.parquet(f"{d}/f2.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*")
              .withColumn("event_ts",
                          F.timestamp_seconds(F.lit(1767225600)
                                              + F.col("sec")))
              .withWatermark("event_ts", "2 seconds"))
    out = multiline_stateful(stream, "stream", "event_ts", "line",
                             start_re=r"^START", flush_timeout_secs=5)
    q = (out.writeStream.format("memory").queryName("ml_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = {(r.stream, r.event): (r.n_lines, r.joined) for r in
            spark.sql("SELECT * FROM ml_stream").collect()}
    assert rows[("s1", "START a\n cont1\n cont2")] == (3, True)
    assert rows[("s1", "START b\n contb")] == (2, True)      # timeout flush
    assert rows[("s2", "lonely line")][1] is False           # passthrough


def test_multiline_preset_stateful_python_traceback(spark, tmp_path):
    """The python preset in streaming: a traceback spanning two
    micro-batches joins into one event; ordinary lines pass through."""
    from fluent_bit_spark.streaming.stream_pipeline import (
        multiline_preset_stateful,
    )
    d = str(tmp_path / "mlp")
    schema = "stream string, sec int, line string"
    spark.createDataFrame(
        [("s1", 0, "Traceback (most recent call last):"),
         ("s1", 1, '  File "app.py", line 3, in <module>')], schema) \
        .coalesce(1).write.parquet(f"{d}/f0.parquet")
    spark.createDataFrame(
        [("s1", 2, "    run()"),
         ("s1", 3, "ValueError: boom"),
         ("s1", 4, "plain log line")], schema) \
        .coalesce(1).write.parquet(f"{d}/f1.parquet")
    spark.createDataFrame(
        [("s1", 1000, "another plain line")], schema) \
        .coalesce(1).write.parquet(f"{d}/f2.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*")
              .withColumn("event_ts",
                          F.timestamp_seconds(F.lit(1767225600)
                                              + F.col("sec")))
              .withWatermark("event_ts", "2 seconds"))
    out = multiline_preset_stateful(stream, "python", "stream",
                                    "event_ts", "line",
                                    flush_timeout_secs=5)
    q = (out.writeStream.format("memory").queryName("mlp_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = {r.event: (r.n_lines, r.joined) for r in
            spark.sql("SELECT * FROM mlp_stream").collect()}
    tb = ("Traceback (most recent call last):\n"
          '  File "app.py", line 3, in <module>\n'
          "    run()\nValueError: boom")
    assert rows[tb] == (4, True)
    assert rows["plain log line"] == (1, False)


def test_multiline_stateful_late_line_survives(spark, tmp_path):
    """A line older than watermark - flush_timeout must not kill the
    query (EventTimeTimeout may not be set <= watermark); the clamp
    flushes it on the next watermark advance instead (ADVICE r2)."""
    from fluent_bit_spark.streaming.stream_pipeline import (
        multiline_stateful,
    )
    d = str(tmp_path / "ml_late")
    schema = "stream string, sec int, line string"
    # batch 0: far-future row pushes the watermark to ~998s
    spark.createDataFrame(
        [("s2", 1000, "future line")], schema) \
        .coalesce(1).write.parquet(f"{d}/f0.parquet")
    # batch 1: a LATE open group (sec 0 << watermark); unclamped, its
    # timeout (sec 5) is behind the watermark -> IllegalArgumentException
    spark.createDataFrame(
        [("s1", 0, "START late"), ("s1", 1, " cont")], schema) \
        .coalesce(1).write.parquet(f"{d}/f1.parquet")
    # batch 2: advances the watermark again so the clamped timeout fires
    spark.createDataFrame(
        [("s2", 2000, "future line 2")], schema) \
        .coalesce(1).write.parquet(f"{d}/f2.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*")
              .withColumn("event_ts",
                          F.timestamp_seconds(F.lit(1767225600)
                                              + F.col("sec")))
              .withWatermark("event_ts", "2 seconds"))
    out = multiline_stateful(stream, "stream", "event_ts", "line",
                             start_re=r"^START", flush_timeout_secs=5)
    q = (out.writeStream.format("memory").queryName("ml_late")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)       # would raise StreamingQueryException pre-fix
    rows = {(r.stream, r.event) for r in
            spark.sql("SELECT * FROM ml_late").collect()}
    assert ("s1", "START late\n cont") in rows


def test_rate_source_soak_smoke(spark, landing, spec, tmp_path):
    """in_random analogue: the rate source drives the FULL stage chain
    at a controlled rate; rows reach the router with the same columns
    as the file-source path and unique doc_ids."""
    from fluent_bit_spark.streaming.stream_pipeline import (
        build_stream_stages, rate_tokens_stream)
    pool = spark.read.parquet(os.path.join(landing, "f0.parquet"))
    stream = rate_tokens_stream(spark, pool, rows_per_second=2000)
    routed = build_stream_stages(spark, stream, spec)
    assert {"tag", "sinks", "dlq_reason"} <= set(routed.columns)
    totals = {"rows": 0, "distinct_ids": 0}

    def count_batch(df, batch_id):
        agg = df.agg(F.count("*").alias("n"),
                     F.countDistinct("doc_id").alias("d")).collect()[0]
        totals["rows"] += agg.n
        totals["distinct_ids"] += agg.d

    q = (routed.writeStream.foreachBatch(count_batch)
         .option("checkpointLocation", str(tmp_path / "soak_ckpt"))
         .start())
    q.awaitTermination(12)
    q.stop()
    q.awaitTermination()
    assert totals["rows"] > 0
    # value-suffix makes every emitted doc_id unique even though the
    # pool repeats
    assert totals["distinct_ids"] == totals["rows"]


def test_windowed_agg_stream_backfill(spark, landing, spec, tmp_path):
    """start_windowed_agg_stream in availableNow mode flushes exactly
    the batch windows whose end the final watermark passed (append-mode
    determinism; the no-data batch advances the watermark)."""
    from fluent_bit_spark.streaming.stream_pipeline import (
        start_windowed_agg_stream)
    out = str(tmp_path / "win_out")
    ts_expr = ("timestamp_seconds(1767225600 + "
               "CAST(regexp_extract(doc_id, '(\\\\d+)', 1) AS LONG) % 600)")
    q = start_windowed_agg_stream(spark, spec, landing, out,
                                  window="60 seconds",
                                  watermark="0 seconds", ts_expr=ts_expr)
    q.awaitTermination(300)
    got = {(r.win.start, r.tag): (r.records, r.n_tok_sum)
           for r in spark.read.parquet(
               os.path.join(out, "windowed_counts")).collect()}

    batch = (build_stages(spark, spark.read.parquet(landing), spec)
             .filter(F.col("dlq_reason").isNull())
             .withColumn("event_ts", F.expr(ts_expr)))
    max_ts = batch.agg(F.max("event_ts")).collect()[0][0]
    want_df = (batch.groupBy(F.window("event_ts", "60 seconds").alias("win"),
                             "tag")
               .agg(F.count("*").alias("records"),
                    F.sum("n_tok").alias("n_tok_sum"))
               .filter(F.col("win.end") <= F.lit(max_ts)))
    want = {(r.win.start, r.tag): (r.records, r.n_tok_sum)
            for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_pack_stateful_cross_batch_parity(spark, tmp_path):
    """Chunks spanning micro-batches assemble from GroupState; the
    emitted stream equals the batch packer's FULL chunks on the same
    input in the same order (token-array equality), and the open tail
    (< ctx_len tokens) stays buffered, not emitted."""
    from fluent_bit_spark.operators.tokens import pack_sequences
    from fluent_bit_spark.streaming.stream_pipeline import pack_stateful

    d = str(tmp_path / "landing_pack")
    schema = "doc_id long, source string, tokens array<int>, n_tok int"
    rows = [(i, f"s{i % 2}", list(range(i * 10, i * 10 + 7 + i % 5)),
             7 + i % 5) for i in range(40)]
    # two files = two micro-batches, id order preserved per batch
    mk = lambda rs, name: (spark.createDataFrame(rs, schema).coalesce(1)
                           .write.parquet(f"{d}/{name}"))
    mk(rows[:25], "f0.parquet")
    mk(rows[25:], "f1.parquet")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*"))
    out = pack_stateful(stream, ctx_len=32)
    q = (out.writeStream.format("memory").queryName("pack_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.source, r.chunk_id): list(r.tokens) for r in
           spark.sql("SELECT * FROM pack_stream").collect()}

    batch = spark.createDataFrame(rows, schema)
    want = {(r["source"], r["chunk_id"]): list(r["tokens"]) for r in
            pack_sequences(batch, ctx_len=32).collect()
            if r["full"]}
    assert got == want
    # every emitted chunk is exactly ctx_len
    assert all(len(v) == 32 for v in got.values())


def test_snapshot_stateful_matches_batch_window(spark, tmp_path):
    """The streaming ring buffer (CREATE SNAPSHOT / FLUSH WHEN) must
    flush exactly the batch window form's context — including a buffer
    that spans micro-batches and previous trigger rows re-entering the
    history."""
    import json

    from fluent_bit_spark.operators.snapshot import snapshot_context
    from fluent_bit_spark.streaming.stream_pipeline import (
        snapshot_stateful,
    )

    d = str(tmp_path / "landing_snap")
    schema = ("event_id long, event_type string, user_id long, "
              "is_err boolean")
    rows = [(i, f"t{i % 2}", 100 + i, i % 7 == 0) for i in range(60)]
    mk = lambda rs, name: (spark.createDataFrame(rs, schema).coalesce(1)
                           .write.parquet(f"{d}/{name}"))
    mk(rows[:35], "f0.parquet")
    mk(rows[35:], "f1.parquet")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*"))
    out = snapshot_stateful(stream, "event_type", "event_id", "is_err",
                            limit_rows=4, payload_cols=["user_id"])
    q = (out.writeStream.format("memory").queryName("snap_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.key, r.flush_at, r.ctx_pos,
            json.loads(r.ctx_json)["user_id"])
           for r in spark.sql("SELECT * FROM snap_stream").collect()}

    batch = snapshot_context(
        spark.createDataFrame(rows, schema), "event_type", "event_id",
        F.col("is_err"), limit_rows=4, payload_cols=["user_id"])
    want = {(r.event_type, r.flush_at, r.ctx_pos, r.ctx_user_id)
            for r in batch.collect()}
    assert got == want and len(got) > 10


def test_stream_quality_stamps_match_batch(spark, landing, fixture_paths,
                                           tmp_path):
    """The r4 map-only quality stamps (stratified_split, expect
    result_key) ride the identical stage builders into streaming: the
    streamed sink rows carry exactly the batch run's split/flag
    assignment row-for-row (stateless => streaming-safe)."""
    from fluent_bit_spark.plans.pipeline import build_stages
    spec_q = PipelineSpec(
        vocab=fx.vocab(),
        routes=[Route("all", "*", "glob")],
        lookup_path=fixture_paths["lookup"],
        filters=[("expect", None, {"cond": "n_tok >= 0",
                                   "action": "result_key",
                                   "result_key": "n_ok"}),
                 ("stratified_split", None, {
                     "group_key": "source", "hash_key": "doc_id",
                     "rates": {"web": 400}, "default_permille": 150})],
    )
    out = str(tmp_path / "stream_quality")
    q = start_pipeline_stream(spark, spec_q, landing, out)
    q.awaitTermination(300)
    got = {(r.doc_id, r.split, r.n_ok) for r in
           spark.read.parquet(os.path.join(out, "sinks", "all"))
           .select("doc_id", "split", "n_ok").collect()}
    batch = build_stages(spark, spark.read.parquet(landing), spec_q)
    want = {(r.doc_id, r.split, r.n_ok) for r in
            batch.filter(F.col("dlq_reason").isNull())
            .select("doc_id", "split", "n_ok").collect()}
    assert got == want and len(got) > 1000
    assert {s for _, s, _ in got} == {"train", "holdout"}


def test_start_scored_stream_matches_batch(spark, tmp_path):
    """Streaming quality scoring vs a maintained model table: scores
    appended across micro-batches are EXACTLY the batch score_tokens
    result over the union (integer milli-nat sums are order-
    independent), OOV tokens silently unscored, zero streaming state."""
    from fluent_bit_spark.operators.tokens import (
        score_tokens, unigram_model,
    )
    from fluent_bit_spark.streaming.stream_pipeline import (
        start_scored_stream,
    )
    corpus = spark.createDataFrame(
        [("t0", "s", [1, 2, 2, 3]), ("t1", "s", [1, 3, 3, 3])],
        "doc_id string, source string, tokens array<int>")
    model = unigram_model(corpus)
    model = spark.createDataFrame(model.collect(), model.schema)

    d = str(tmp_path / "landing_sc")
    schema = "doc_id string, source string, tokens array<int>"
    rows0 = [("a0", "web", [1, 2, 3]), ("a1", "web", [2, 2])]
    rows1 = [("a2", "app", [3, 1, 99]),   # 99 is OOV → unscored
             ("a3", "app", [99])]         # fully OOV → no output row
    spark.createDataFrame(rows0, schema).coalesce(1) \
        .write.parquet(f"{d}/f0.parquet")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.parquet(f"{d}/f1.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*"))
    out = str(tmp_path / "scored_out")
    q = start_scored_stream(spark, stream, model, out)
    q.awaitTermination(120)

    got = {(r.doc_id, r.source, r.nll_millinats, r.n_tok_scored)
           for r in spark.read.parquet(f"{out}/scores").collect()}
    both = spark.createDataFrame(rows0 + rows1, schema)
    want = {(r.doc_id, r.source, r.nll_millinats, r.n_tok_scored)
            for r in score_tokens(both, model).collect()}
    assert got == want
    assert {d for d, *_ in got} == {"a0", "a1", "a2"}   # a3 fully OOV
    a2 = next(t for t in got if t[0] == "a2")
    assert a2[3] == 2                                   # 99 unscored


def test_start_dsir_scored_stream_matches_batch(spark, tmp_path):
    """Streaming DSIR scoring vs a maintained K-row model: scores
    appended across micro-batches are EXACTLY the batch dsir_score
    over the union; the full bucket spine means every doc (even one
    whose features the corpora never saw) emits a row."""
    from fluent_bit_spark.operators.tokens import (
        dsir_logratio_model, dsir_score,
    )
    from fluent_bit_spark.streaming.stream_pipeline import (
        start_dsir_scored_stream,
    )
    K = 64
    raw = spark.createDataFrame(
        [("t0", "s", [1, 2, 2, 3]), ("t1", "s", [7, 8, 9])],
        "doc_id string, source string, tokens array<int>")
    tgt = raw.filter("doc_id = 't0'")
    model = dsir_logratio_model(raw, tgt, n_buckets=K)
    model = spark.createDataFrame(model.collect(), model.schema)

    d = str(tmp_path / "landing_dsir")
    schema = "doc_id string, source string, tokens array<int>"
    rows0 = [("a0", "web", [1, 2, 3]), ("a1", "web", [2, 2])]
    rows1 = [("a2", "app", [3, 1, 99]),  # unseen token: still scored
             ("a3", "app", [99])]        # fully unseen: still a row
    spark.createDataFrame(rows0, schema).coalesce(1) \
        .write.parquet(f"{d}/f0.parquet")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.parquet(f"{d}/f1.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*"))
    out = str(tmp_path / "dsir_out")
    q = start_dsir_scored_stream(spark, stream, model, out,
                                 n_buckets=K)
    q.awaitTermination(120)

    got = {(r.doc_id, r.source, r.llr_millinats, r.n_feat)
           for r in spark.read.parquet(f"{out}/scores").collect()}
    both = spark.createDataFrame(rows0 + rows1, schema)
    want = {(r.doc_id, r.source, r.llr_millinats, r.n_feat)
            for r in dsir_score(both, model, n_buckets=K).collect()}
    assert got == want
    assert {t[0] for t in got} == {"a0", "a1", "a2", "a3"}
    a3 = next(t for t in got if t[0] == "a3")
    assert a3[3] == 1   # one unigram feature, no bigram


def test_start_objective_stream_matches_batch(spark, tmp_path):
    """Streaming denoising objectives: per-doc deterministic rewrites
    appended across micro-batches are byte-identical to one batch pass
    over the union, for all three objectives."""
    import pytest
    from fluent_bit_spark.operators.tokens import (
        fim_transform, span_corrupt, ul2_mixture,
    )
    from fluent_bit_spark.streaming.stream_pipeline import (
        start_objective_stream,
    )
    schema = ("doc_id string, source string, tokens array<int>, "
              "n_tok int")
    rows0 = [("b%02d" % i, "web", list(range(i, i + 25)), 25)
             for i in range(6)]
    rows1 = [("b%02d" % i, "app", list(range(i, i + 40)), 40)
             for i in range(6, 12)]
    d = str(tmp_path / "landing_obj")
    spark.createDataFrame(rows0, schema).coalesce(1) \
        .write.parquet(f"{d}/f0.parquet")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.parquet(f"{d}/f1.parquet")
    both = spark.createDataFrame(rows0 + rows1, schema)
    batch_ops = {"fim": fim_transform, "spans": span_corrupt,
                 "ul2": ul2_mixture}
    for obj, fn in batch_ops.items():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{d}/*"))
        out = str(tmp_path / f"obj_{obj}")
        q = start_objective_stream(spark, stream, out, objective=obj,
                                   seed=4)
        q.awaitTermination(120)
        got_df = spark.read.parquet(f"{out}/{obj}")
        want_df = fn(both, seed=4)
        cols = sorted(set(got_df.columns) & set(want_df.columns))
        got = sorted(map(tuple, got_df.select(*cols).collect()))
        want = sorted(map(tuple, want_df.select(*cols).collect()))
        assert got == want and len(got) == 12, obj
    with pytest.raises(ValueError):
        start_objective_stream(spark, both, str(tmp_path / "x"),
                               objective="nope")


def test_start_hll_distinct_stream_matches_batch(spark, tmp_path):
    """Streaming HLL vs the whole-set sketch: the maintained register
    table after all micro-batches equals hll_register_table over the
    union EXACTLY (MAX merge is order-insensitive), and the final
    estimate matches the batch estimate."""
    from fluent_bit_spark.operators.aggregate import (
        approx_distinct_hll, hll_register_table,
    )
    from fluent_bit_spark.streaming.stream_pipeline import (
        start_hll_distinct_stream,
    )
    schema = "k string, g string"
    rows0 = [("u%04d" % i, "g%d" % (i % 2)) for i in range(400)]
    rows1 = [("u%04d" % i, "g%d" % (i % 2)) for i in range(200, 700)]
    d = str(tmp_path / "landing_hll")
    spark.createDataFrame(rows0, schema).coalesce(1) \
        .write.parquet(f"{d}/f0.parquet")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.parquet(f"{d}/f1.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/*"))
    out = str(tmp_path / "hll_out")
    q = start_hll_distinct_stream(spark, stream, "k", out, p=10,
                                  group_cols=["g"])
    q.awaitTermination(120)

    got_regs = sorted(map(tuple, spark.read.parquet(f"{out}/regs")
                          .collect()))
    both = spark.createDataFrame(rows0 + rows1, schema)
    want_regs = sorted(map(tuple, hll_register_table(
        both, "k", 10, ["g"]).collect()))
    assert got_regs == want_regs
    ests = spark.read.parquet(f"{out}/estimates")
    last = ests.agg(F.max("batch_id")).first()[0]
    got_est = sorted(map(tuple, ests.filter(F.col("batch_id") == last)
                         .select("g", "est_distinct").collect()))
    want_est = sorted(map(tuple, approx_distinct_hll(
        both, "k", 10, ["g"]).select("g", "est_distinct").collect()))
    assert got_est == want_est
