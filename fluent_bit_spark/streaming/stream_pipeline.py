"""Structured Streaming variant of the pipeline (SURVEY.md §2.7, §7.8).

fluent-bit is natively a streaming engine: inputs append chunks, the
engine loop flushes on a timer, the stream processor aggregates over
processing-time windows (upstream:src/flb_engine.c,
src/stream_processor/flb_sp_window.c). The batch engine in
plans/pipeline.py is the table-scale re-expression; this module is the
live-tail re-expression on Structured Streaming:

- file source (``readStream.parquet`` over a landing dir) = ``in_tail``
  watching a directory; Spark's file-source checkpoint replaces the
  sqlite offset DB (upstream:plugins/in_tail/tail_db.c);
- the stateless stages (detok-parse, grep, enrich broadcast join, tag,
  route) are the SAME plan builders as batch — they are narrow ops so
  they lift to streaming unchanged;
- windowed aggregation uses event-time + watermark — STRICTER than the
  reference (fluent-bit aggregates whatever sits in the buffer at flush;
  it has no late-data story, SURVEY.md §2.7);
- multi-sink fan-out runs in ``foreachBatch`` (the flush-timer analogue):
  each micro-batch goes through the batch job's slice writer
  (``plans.pipeline.write_slice``) and lands in the same layout;
- ``throttle_stateful`` implements filter_throttle's sliding rate limit
  (upstream:plugins/filter_throttle/throttle.c) as a genuinely stateful
  per-tag operator with ``applyInPandasWithState`` — state is the
  per-tag admitted-count per window pane, carried across micro-batches.

Scale shape: stateless stages shuffle nothing; the windowed agg shuffles
on (tag, window) with watermark-bounded state; foreachBatch writes are
partition-local. On a 1000-executor cluster the landing dir becomes a
Kafka source (swap ``read_tokens_stream`` only — the rest of the plan is
source-agnostic).
"""

from __future__ import annotations

import os
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.pipeline import PipelineSpec, TOKENS_SCHEMA, build_stages, \
    sink_names, write_slice

# ---------------------------------------------------------------------------
# Source
# ---------------------------------------------------------------------------


def read_tokens_stream(spark: SparkSession, landing_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """in_tail analogue: stream parquet files as they land in a directory."""
    r = spark.readStream.schema(TOKENS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(landing_dir)


def build_stream_stages(spark: SparkSession, stream_df: DataFrame,
                        spec: PipelineSpec) -> DataFrame:
    """Stateless stages lifted to streaming — identical plan builders."""
    return build_stages(spark, stream_df, spec)


def rate_tokens_stream(spark: SparkSession, pool_df: DataFrame,
                       rows_per_second: int,
                       ramp_up_seconds: int = 0) -> DataFrame:
    """in_dummy/in_random at a controlled rate: the built-in rate source
    emits (timestamp, value) at ``rows_per_second``; each row picks a
    record from a small static ``pool_df`` (the fixture tokens table) by
    ``value mod pool_size`` via a stream-static BROADCAST join — no
    shuffle, no state — and gets a unique doc_id suffix. Output schema
    is exactly TOKENS_SCHEMA, so the full stage chain (detok-parse →
    grep → enrich → route) runs unchanged on top. This is the soak
    surface: drive the stages at a target rate and read achieved
    throughput off the query progress (numInputRows / batchDuration).

    Reference analogue: in_random's fixed-interval record generator
    (upstream:plugins/in_random/random.c) — there a timer callback per
    record, here a rate-limited source the engine scales by partitioning.
    """
    pool = pool_df.select("doc_id", "tokens", "n_tok", "source")
    n_pool = pool.count()
    w = Window.orderBy("doc_id")
    indexed = pool.withColumn("__idx",
                              F.row_number().over(w).cast("long") - 1)
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", str(rows_per_second)))
    if ramp_up_seconds:
        rate = rate.option("rampUpTime", f"{ramp_up_seconds}s")
    return (rate.load()
            .withColumn("__idx", F.pmod(F.col("value"), F.lit(n_pool)))
            .join(F.broadcast(indexed), "__idx")
            .select(
                F.concat_ws("-", "doc_id",
                            F.col("value").cast("string")).alias("doc_id"),
                "tokens", "n_tok", "source"))


# ---------------------------------------------------------------------------
# Windowed aggregation with watermark (SP tumbling/hopping analogue)
# ---------------------------------------------------------------------------


def windowed_tag_counts(routed: DataFrame, ts_col: str = "event_ts",
                        window: str = "10 seconds",
                        slide: str | None = None,
                        watermark: str = "30 seconds") -> DataFrame:
    """``SELECT COUNT(*), SUM(n_tok) … WINDOW TUMBLING|HOPPING`` with
    event-time watermarking (upstream:src/stream_processor/flb_sp_window.c
    semantics, but event-time-exact instead of processing-time)."""
    w = (F.window(F.col(ts_col), window, slide)
         if slide else F.window(F.col(ts_col), window))
    return (routed.withWatermark(ts_col, watermark)
            .groupBy(w.alias("win"), F.col("tag"))
            .agg(F.count("*").alias("records"),
                 F.sum("n_tok").alias("n_tok_sum")))


# ---------------------------------------------------------------------------
# foreachBatch fan-out (flush-timer analogue)
# ---------------------------------------------------------------------------


def foreach_batch_fanout(spec: PipelineSpec, output_dir: str):
    """Per-micro-batch writer: the batch job's slice body
    (``plans.pipeline.write_slice``), with the micro-batch id as the
    slice id. Output lands in the batch layout: every sink in the
    spec's ``sink_format`` under ``sinks/<sink>/batch_id=<id>`` (rows
    partitioned by ``sink_partition_by``), ``dlq/batch_id=<id>``,
    ``_metrics/b<id>`` and ``metrics_out/<name>/batch_id=<id>``. Spark
    re-delivers a failed micro-batch with the same id, and the rewrite
    replaces that id's directories, so the retry is exactly-once."""
    sinks = sink_names(spec)

    def write_batch(routed: DataFrame, batch_id: int) -> None:
        write_slice(routed.sparkSession, routed, spec, output_dir,
                    batch_id, sinks)

    return write_batch


def start_pipeline_stream(spark: SparkSession, spec: PipelineSpec,
                          landing_dir: str, output_dir: str,
                          checkpoint_dir: str | None = None,
                          available_now: bool = True):
    """Wire source → stages → foreachBatch fan-out and start the query.

    ``available_now=True`` drains everything currently in the landing dir
    then stops — the deterministic test/backfill mode; ``False`` tails
    the directory continuously (the true in_tail posture)."""
    routed = build_stream_stages(
        spark, read_tokens_stream(spark, landing_dir), spec)
    q = (routed.writeStream
         .foreachBatch(foreach_batch_fanout(spec, output_dir))
         .option("checkpointLocation",
                 checkpoint_dir or os.path.join(output_dir, "_stream_ckpt")))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def start_windowed_agg_stream(spark: SparkSession, spec: PipelineSpec,
                              landing_dir: str, output_dir: str,
                              window: str = "10 seconds",
                              watermark: str = "30 seconds",
                              ts_expr: str = "current_timestamp()",
                              checkpoint_dir: str | None = None,
                              available_now: bool = True):
    """The SP windowed-aggregate SINK deployment: source → stages →
    tumbling counts per tag → append-mode parquet. Append mode emits a
    window only once its watermark closes — the streaming analogue of
    the SP flush (upstream:src/stream_processor/flb_sp_window.c), but
    late-data-correct. availableNow's final no-data batch advances the
    watermark past all drained data, so a backfill run flushes every
    complete window deterministically.

    ``ts_expr`` defines event time as a SQL expression over the routed
    columns. The default (ingest time) reproduces the reference's
    processing-time window semantics; pass a record-derived expression
    (e.g. over ``fields.ts_raw``) for event-time-exact, deterministic
    windows."""
    routed = build_stream_stages(
        spark, read_tokens_stream(spark, landing_dir), spec)
    counts = windowed_tag_counts(
        routed.filter(F.col("dlq_reason").isNull())
              .withColumn("event_ts", F.expr(ts_expr)),
        window=window, watermark=watermark)
    q = (counts.writeStream.outputMode("append")
         .format("parquet")
         .option("path", os.path.join(output_dir, "windowed_counts"))
         .option("checkpointLocation",
                 checkpoint_dir
                 or os.path.join(output_dir, "_windowed_ckpt")))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def start_scored_stream(spark: SparkSession, stream_df: DataFrame,
                        model: DataFrame, output_dir: str,
                        tokens_col: str = "tokens",
                        id_cols: tuple[str, ...] = ("doc_id", "source"),
                        checkpoint_dir: str | None = None,
                        available_now: bool = True):
    """Streaming face of surprisal quality scoring: score each
    micro-batch against a MAINTAINED static model table
    (:func:`~fluent_bit_spark.operators.tokens.unigram_model`) and
    append the per-document scores as parquet.

    Scoring runs inside ``foreachBatch`` — every document arrives whole
    in its batch, so the per-doc aggregation is batch-local and the
    query carries ZERO streaming state (constant memory forever). The
    static model is re-planned per batch, so pointing it at the
    maintained model table picks up re-trains between batches; with a
    FIXED model the scores are bit-identical to scoring the union of all
    batches at once (integer milli-nat sums are order-independent — the
    parity test's contract)."""
    from ..operators.tokens import score_tokens

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (score_tokens(batch, model, tokens_col=tokens_col,
                      id_cols=id_cols)
         .write.mode("append")
         .parquet(os.path.join(output_dir, "scores")))

    q = (stream_df.writeStream
         .foreachBatch(write_batch)
         .option("checkpointLocation",
                 checkpoint_dir
                 or os.path.join(output_dir, "_scored_ckpt")))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def start_dsir_scored_stream(spark: SparkSession, stream_df: DataFrame,
                             model: DataFrame, output_dir: str,
                             tokens_col: str = "tokens",
                             n_buckets: int = 4096,
                             id_cols: tuple[str, ...] = ("doc_id",
                                                         "source"),
                             checkpoint_dir: str | None = None,
                             available_now: bool = True):
    """Streaming face of DSIR importance scoring: score each
    micro-batch against a MAINTAINED static log-ratio model table
    (:func:`~fluent_bit_spark.operators.tokens.dsir_logratio_model`,
    exactly ``n_buckets`` rows) and append per-document importance
    log-weights as parquet.

    Same zero-state posture as :func:`start_scored_stream`: scoring is
    a broadcast join + batch-local agg inside ``foreachBatch``, so the
    query carries no streaming state and a FIXED model scores the
    stream bit-identically to one batch pass over the union (integer
    milli-nat sums are order-independent). The model spine covers all
    K buckets, so — unlike the surprisal scorer — no feature is ever
    OOV and every document emits a row. The Gumbel top-k SELECTION
    stays a batch/periodic concern (a global cut is not a per-batch
    decision); this face maintains the scores that cut reads."""
    from ..operators.tokens import dsir_score

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (dsir_score(batch, model, tokens_col=tokens_col,
                    n_buckets=n_buckets, id_cols=id_cols)
         .write.mode("append")
         .parquet(os.path.join(output_dir, "scores")))

    q = (stream_df.writeStream
         .foreachBatch(write_batch)
         .option("checkpointLocation",
                 checkpoint_dir
                 or os.path.join(output_dir, "_dsir_ckpt")))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


# ---------------------------------------------------------------------------
# Stateful throttle (filter_throttle's sliding rate limit, cross-batch)
# ---------------------------------------------------------------------------

_THROTTLE_STATE = T.StructType([
    T.StructField("panes", T.ArrayType(T.LongType())),
    T.StructField("admitted", T.ArrayType(T.LongType())),
])

# panes older than (max_pane - RETAIN_PANES) are dropped from state —
# the watermark analogue bounding state size per key
RETAIN_PANES = 128


def throttle_stateful(df: DataFrame, rate: int, pane_seconds: int,
                      ts_col: str = "event_ts",
                      key_col: str = "tag") -> DataFrame:
    """Admit at most ``rate`` rows per ``key_col`` per fixed pane of
    ``pane_seconds`` (upstream:plugins/filter_throttle/throttle.c
    semantics: pane-bucketed counters, over-rate records dropped), with
    the per-pane admitted table carried across micro-batches in
    GroupState so a pane spanning several batches shares one budget.

    Vectorized admission: within a batch, a row is admitted iff its
    rank-within-pane + previously-admitted-in-pane < rate (rank in
    event-time order — deterministic given deterministic input)."""
    import numpy as np

    out_schema = df.schema

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        table: dict[int, int] = {}
        if state.exists:
            panes, counts = state.get
            table = dict(zip(panes, counts))
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            epoch = (pdf[ts_col].astype("int64").to_numpy()
                     // 10**9 // pane_seconds)
            uniq, inv = np.unique(epoch, return_inverse=True)
            prior = np.array([table.get(int(e), 0) for e in uniq])
            rank = pd.Series(epoch).groupby(epoch).cumcount().to_numpy()
            keep = (rank + prior[inv]) < rate
            for e, cnt in zip(*np.unique(epoch[keep], return_counts=True)):
                table[int(e)] = table.get(int(e), 0) + int(cnt)
            if keep.any():
                yield pdf.iloc[np.flatnonzero(keep)]
        if table:
            horizon = max(table) - RETAIN_PANES
            table = {p: c for p, c in table.items() if p >= horizon}
        state.update((list(table.keys()), list(table.values())))

    return (df.groupBy(key_col)
            .applyInPandasWithState(
                fn, outputStructType=out_schema,
                stateStructType=_THROTTLE_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# Stateful streaming multiline (flb_ml's in-stream joining + flush timer)
# ---------------------------------------------------------------------------

_ML_STATE = T.StructType([
    T.StructField("ts", T.ArrayType(T.LongType())),       # epoch seconds
    T.StructField("lines", T.ArrayType(T.StringType())),
])

_ML_OUT = T.StructType([
    T.StructField("stream", T.StringType()),
    T.StructField("first_ts", T.TimestampType()),
    T.StructField("n_lines", T.LongType()),
    T.StructField("event", T.StringType()),
    T.StructField("joined", T.BooleanType()),
])


def multiline_preset_stateful(df: DataFrame, preset: str,
                              stream_col: str, ts_col: str,
                              line_col: str,
                              flush_timeout_secs: int = 5) -> DataFrame:
    """Streaming form of the java/python/go multiline presets: any line
    matching the preset's continuation rules attaches to the open
    group; any other line flushes it and opens a new one (the batch
    run-engine's semantics, lifted to GroupState + flush timeout).
    docker/cri are terminator-mode presets — in streaming their
    fragments are joined by the same machine with the F/complete line
    re-expressed as "next line opens" via cont rules; use the batch
    ``multiline_docker``/``multiline_cri`` for offline joins."""
    from ..operators.multiline import MULTILINE_CONT_RULES
    if preset not in MULTILINE_CONT_RULES:
        raise ValueError(
            f"streaming preset must be one of "
            f"{sorted(MULTILINE_CONT_RULES)}; got {preset!r}")
    return multiline_stateful(
        df, stream_col, ts_col, line_col,
        cont_re=MULTILINE_CONT_RULES[preset],
        flush_timeout_secs=flush_timeout_secs)


def multiline_stateful(df: DataFrame, stream_col: str, ts_col: str,
                       line_col: str, start_re: str | None = None,
                       cont_re: str | None = None,
                       flush_timeout_secs: int = 5,
                       sep: str = "\n") -> DataFrame:
    """Streaming multiline join — the true in-stream analogue of
    ``operators.multiline.join_multiline`` (upstream:src/multiline/
    flb_ml.c group buffers + flush_ms timer):

    per-stream GroupState buffers the OPEN group; a start-matching line
    flushes the previous group and opens a new one; a line arriving
    before any start passes through unjoined; an event-time TIMEOUT
    (watermark passing last-line-ts + ``flush_timeout_secs``) flushes a
    group whose continuation never came — flb's flush timer, expressed
    on event time so it is replay-deterministic.

    Ordering contract: lines are processed in event-time order WITHIN a
    micro-batch (sorted here); across batches in arrival order — the
    same contract as flb, which joins in arrival order per stream.
    Requires ``withWatermark`` upstream (EventTimeTimeout).

    Exactly one of ``start_re`` (a start-matching line opens a group)
    or ``cont_re`` (any NON-continuation line opens; the stack-trace
    preset mode) must be given."""
    import re as _re
    if (start_re is None) == (cont_re is None):
        raise ValueError("pass exactly one of start_re / cont_re")
    start_pat = _re.compile(start_re) if start_re else None
    cont_pat = _re.compile(cont_re) if cont_re else None

    def _is_start(line: str) -> bool:
        if start_pat is not None:
            return bool(start_pat.search(line))
        return not cont_pat.search(line)

    def _flush(ts: list[int], lines: list[str]):
        return {
            "stream": None,  # filled by caller
            "first_ts": pd.Timestamp(ts[0], unit="s"),
            "n_lines": len(lines),
            "event": sep.join(lines),
            "joined": len(lines) > 1
            or (start_pat is not None
                and bool(start_pat.search(lines[0]))),
        }

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        stream = key[0]
        if state.hasTimedOut:
            if state.exists:
                ts, lines = state.get
                row = _flush(list(ts), list(lines))
                row["stream"] = stream
                state.remove()
                yield pd.DataFrame([row])
            return
        buf_ts: list[int] = []
        buf_lines: list[str] = []
        if state.exists:
            t, ls = state.get
            buf_ts, buf_lines = list(t), list(ls)
        out_rows = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            secs = pdf[ts_col].astype("int64").to_numpy() // 10**9
            for t, line in zip(secs, pdf[line_col].to_numpy()):
                is_start = _is_start(line)
                if is_start:
                    if buf_lines:
                        row = _flush(buf_ts, buf_lines)
                        row["stream"] = stream
                        out_rows.append(row)
                    buf_ts, buf_lines = [int(t)], [str(line)]
                elif not buf_lines:
                    # pre-start passthrough (flb emits unjoined)
                    row = _flush([int(t)], [str(line)])
                    row["stream"] = stream
                    out_rows.append(row)
                else:
                    buf_ts.append(int(t))
                    buf_lines.append(str(line))
        if out_rows:
            yield pd.DataFrame(out_rows)
        if buf_lines:
            state.update((buf_ts, buf_lines))
            # Event-time timeouts must land strictly AFTER the current
            # watermark or Spark raises IllegalArgumentException and the
            # whole query dies. A line older than watermark -
            # flush_timeout would otherwise set an already-passed
            # timestamp, so clamp forward: the stale group then flushes
            # on the next watermark advance — degraded flush latency for
            # that one group, not a dead stream.
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max((buf_ts[-1] + flush_timeout_secs) * 1000, wm_ms + 1))
        elif state.exists:
            state.remove()

    return (df.groupBy(F.col(stream_col).alias("stream"))
            .applyInPandasWithState(
                fn, outputStructType=_ML_OUT,
                stateStructType=_ML_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


# ---------------------------------------------------------------------------
# Stateful streaming sequence packing (continuous concat-and-chunk)
# ---------------------------------------------------------------------------

_PACK_STATE = T.StructType([
    T.StructField("next_chunk", T.LongType()),
    T.StructField("buf", T.ArrayType(T.IntegerType())),
])

_PACK_OUT = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("chunk_id", T.LongType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok_chunk", T.IntegerType()),
])


def pack_stateful(df: DataFrame, ctx_len: int, part_col: str = "source",
                  order_col: str = "doc_id",
                  tokens_col: str = "tokens") -> DataFrame:
    """Streaming analogue of ``operators.tokens.pack_sequences``:
    continuous concat-and-chunk packing of arriving token sequences
    into fixed ``ctx_len`` windows, per ``part_col`` stream.

    Per-source GroupState carries the OPEN partial chunk (< ctx_len
    tokens) and the next chunk ordinal across micro-batches; every full
    window emits exactly once, in order. Within a batch, rows
    concatenate in ``order_col`` order, so the emitted chunk stream is
    deterministic given deterministic arrival (the same posture as the
    multiline/throttle stateful ops). The open tail stays in state — a
    stream has no "last document"; a backfill that must flush partials
    reads the final state via the batch packer instead.

    State is BOUNDED: ≤ ctx_len - 1 buffered tokens per source,
    regardless of stream age or document sizes. Vectorized: one numpy
    concatenate + slicing per (source, batch) — no per-token Python.

    Batch parity: with arrival order == id order, emitted chunks equal
    the FULL chunks of ``pack_sequences(..., order_col=id)`` exactly
    (token-array equality; tests/test_streaming.py)."""
    import numpy as np

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        next_chunk, buf = state.get if state.exists else (0, [])
        arr = np.asarray(list(buf), dtype="int64")
        parts = [arr]
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(order_col, kind="mergesort")
            parts.extend(np.asarray(t, dtype="int64")
                         for t in pdf[tokens_col] if len(t))
        arr = np.concatenate(parts) if len(parts) > 1 else parts[0]
        n_full = len(arr) // ctx_len
        if n_full:
            cut = arr[:n_full * ctx_len].reshape(n_full, ctx_len)
            yield pd.DataFrame({
                "source": key[0],
                "chunk_id": np.arange(next_chunk, next_chunk + n_full),
                "tokens": [row.astype("int32") for row in cut],
                "n_tok_chunk": np.int32(ctx_len),
            })
        state.update((int(next_chunk + n_full),
                      [int(x) for x in arr[n_full * ctx_len:]]))

    return (df.groupBy(F.col(part_col).alias("source"))
            .applyInPandasWithState(
                fn, outputStructType=_PACK_OUT,
                stateStructType=_PACK_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# Stream-processor snapshots (ring-buffered context replay on trigger)
# ---------------------------------------------------------------------------

_SNAP_STATE = T.StructType([
    T.StructField("o", T.ArrayType(T.LongType())),
    T.StructField("payload", T.ArrayType(T.StringType())),  # json rows
])

_SNAP_OUT = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("flush_at", T.LongType()),
    T.StructField("ctx_pos", T.IntegerType()),
    T.StructField("ctx_json", T.StringType()),
])


def snapshot_stateful(df: DataFrame, key_col: str, order_col: str,
                      trigger_col: str, limit_rows: int,
                      payload_cols: list[str]) -> DataFrame:
    """Streaming form of ``operators.snapshot.snapshot_context``
    (upstream:src/stream_processor/flb_sp_snapshot.c CREATE SNAPSHOT /
    FLUSH SNAPSHOT WHEN): a per-key GroupState ring buffer capped at
    ``limit_rows`` records; when a trigger record arrives, the buffered
    context re-emits (oldest first, with its position), then the
    trigger row itself joins the buffer. State is O(limit_rows) per key
    FOREVER — independent of stream age (the reference's size-bounded
    snapshot window).

    Buffered payloads ride as JSON strings (the snapshot is a
    diagnostic replay sink, schema-stable across any payload set);
    ``ctx_json`` parses back with ``from_json`` downstream. Python cost
    is per-TRIGGER, not per-row: non-trigger spans append via two numpy
    slices; parity with the batch window form is exact
    (tests/test_streaming.py)."""
    import json as _json

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        o, payload = (state.get if state.exists else ([], []))
        o, payload = list(o), list(payload)
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(order_col, kind="mergesort")
            orders = pdf[order_col].to_numpy()
            trig = pdf[trigger_col].to_numpy()
            rows = pdf[payload_cols].to_dict("records")
            jsons = [_json.dumps(r, default=int, sort_keys=True)
                     for r in rows]
            prev = 0
            out = []
            for ti in trig.nonzero()[0]:
                # rows strictly before the trigger enter the buffer
                o.extend(int(x) for x in orders[prev:ti])
                payload.extend(jsons[prev:ti])
                o, payload = o[-limit_rows:], payload[-limit_rows:]
                out.extend(
                    {"key": key[0], "flush_at": int(orders[ti]),
                     "ctx_pos": p, "ctx_json": j}
                    for p, j in enumerate(payload))
                # the trigger row itself then joins the stream history
                o.append(int(orders[ti]))
                payload.append(jsons[ti])
                prev = ti + 1
            o.extend(int(x) for x in orders[prev:])
            payload.extend(jsons[prev:])
            o, payload = o[-limit_rows:], payload[-limit_rows:]
            if out:
                yield pd.DataFrame(out)
        state.update((o, payload))

    return (df.withColumn("key", F.col(key_col)).groupBy("key")
            .applyInPandasWithState(
                fn, outputStructType=_SNAP_OUT,
                stateStructType=_SNAP_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def start_objective_stream(spark: SparkSession, stream_df: DataFrame,
                           output_dir: str, objective: str = "fim",
                           seed: int = 0,
                           checkpoint_dir: str | None = None,
                           available_now: bool = True):
    """Streaming face of the denoising-objective transforms: apply
    ``fim_transform`` / ``span_corrupt`` / ``ul2_mixture`` to each
    micro-batch and append the rewritten streams as parquet.

    All three objectives are PER-DOCUMENT map-only rewrites keyed by
    deterministic (doc_id, seed) draws, so the face carries ZERO
    streaming state and is trivially batch-parity-exact: the same doc
    produces the same bytes whether it arrives in one batch or many —
    the strongest form of the stream≡batch contract in this module
    (no order, window, or model dependence at all)."""
    from ..operators.tokens import (fim_transform, span_corrupt,
                                    ul2_mixture)
    ops = {"fim": fim_transform, "spans": span_corrupt,
           "ul2": ul2_mixture}
    if objective not in ops:
        raise ValueError(f"objective must be one of {sorted(ops)}, "
                         f"got {objective!r}")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (ops[objective](batch, seed=seed)
         .write.mode("append")
         .parquet(os.path.join(output_dir, objective)))

    q = (stream_df.writeStream
         .foreachBatch(write_batch)
         .option("checkpointLocation",
                 checkpoint_dir
                 or os.path.join(output_dir, "_obj_ckpt")))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def start_hll_distinct_stream(spark: SparkSession, stream_df: DataFrame,
                              key_col: str, output_dir: str,
                              p: int = 10,
                              group_cols: list[str] | None = None,
                              checkpoint_dir: str | None = None,
                              available_now: bool = True):
    """Streaming face of the HyperLogLog distinct sketch: maintain a
    register table under ``output_dir/regs`` by cell-wise MAX merge
    per micro-batch (:func:`~fluent_bit_spark.operators.aggregate.
    hll_merge` — the lossless HLL union), and land the current
    estimate per batch under ``estimates/``.

    State is the REGISTER TABLE ON DISK, not streaming state: the
    query itself is stateless foreachBatch (the dedup-vs-corpus
    maintained-table posture), bounded at groups × 2^p rows forever —
    streaming distinct counting whose memory never grows with stream
    age, and whose merge order cannot matter (MAX is commutative/
    idempotent), so stream == batch EXACTLY (parity-tested)."""
    from ..operators.aggregate import (hll_estimate, hll_merge,
                                       hll_register_table)
    groups = list(group_cols or [])
    regs_dir = os.path.join(output_dir, "regs")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        new = hll_register_table(batch, key_col, p, groups)
        if os.path.exists(regs_dir):
            old = spark.read.parquet(regs_dir)
            merged = hll_merge(old, new, groups)
        else:
            merged = new
        # localCheckpoint pins the merged frame before the overwrite
        # truncates its own input tree (the read-modify-write hazard)
        merged = merged.localCheckpoint()
        merged.write.mode("overwrite").parquet(regs_dir)
        (hll_estimate(merged, p, groups)
         .withColumn("batch_id", F.lit(batch_id).cast("long"))
         .write.mode("append")
         .parquet(os.path.join(output_dir, "estimates")))

    q = (stream_df.writeStream
         .foreachBatch(write_batch)
         .option("checkpointLocation",
                 checkpoint_dir
                 or os.path.join(output_dir, "_hll_ckpt")))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()
