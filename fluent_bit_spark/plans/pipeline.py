"""The end-to-end pipeline: read → parse → filter → enrich → tag →
route → fan-out → aggregate, with checkpointed resume and lineage
metrics.

Reference lifecycle re-expressed (SURVEY.md §3.1): fluent-bit runs
filters synchronously per chunk with msgpack re-serialization between
every filter (upstream:src/flb_filter.c) and routes chunk-by-chunk
(upstream:src/flb_engine.c, flb_task.c). Here the whole chain is ONE
lazy Catalyst plan per slice — filters fuse into a single whole-stage
codegen span around one Arrow round-trip (detokenize+parse), and
rewrite_tag copies are emitted by an explode, so each input row crosses
into Python once.

Formats plug in the way fluent-bit's input and output plugins do (one
struct of callbacks each, driven by one generic loop;
upstream:src/flb_input.c, src/flb_output.c):

- ``SOURCES`` has one adapter per input format. It reads a slice's
  files into the frame the stages take (``_lineage`` stamped on the raw
  scan) and names the stage builder, the decoder's default tag column
  and its ok column. ``read_routed`` applies the default tag and sends
  the decoder's rejects to the DLQ as ``parse_fail``; ``read_tagged``
  feeds ``[STREAM_TASK]`` SQL the same adapter. The input is listed
  once per call on the driver (``fsio.list_files``, the strings
  ``inputFiles()`` gives, no Spark job), and the lookup dim and
  checklist lists are read once per call: every slice joins the same
  frames.
- ``SINK_WRITERS`` has one writer per sink format. parquet and the
  out_file text formats write every sink of a slice in one job (rows
  exploded over their routes mask, the flb_routes_mask fan-out, staged
  and renamed into place); http/es/loki/kafka/msgpack write one
  filtered job per sink.
- ``write_slice`` is the slice body, shared by the batch job and the
  streaming fan-out: the routed frame is persisted once and read by
  the sink writer, the log_to_metrics side outputs, the DLQ write
  (whose Observation counts the slice's rows) and the per-tag metrics
  (one group-by on tag, ``slice_metrics``).

Checkpoint/resume (upstream:plugins/in_tail/tail_db.c offset DB →
per-slice manifest, BASELINE.json north_rule "resumable from
per-partition checkpoints with lineage + metrics"): input files are
grouped into slices; each slice's sink rows land under
``sinks/<sink>/batch_id=<i>`` directories, and a manifest JSON marks
the slice done only after all sinks + metrics commit. A re-run skips
completed slices and reproduces identical outputs; it fails if a
committed slice would now get other files.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import fsio
from ..functions.serialize import (to_csv_line, to_gelf, to_json_lines,
                                   to_ltsv_line, to_template)
from ..operators.enrich import lookup_join
from ..operators.filters import GrepRule, grep_predicate
from ..operators.router import RewriteTagRule, Route, apply_rewrite_tag, \
    with_routes

TOKENS_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                 "source string")


def tune_scan_partitions(spark: SparkSession, input_path: str,
                         waves: int = 3) -> None:
    """Size ``spark.sql.files.maxPartitionBytes`` for a parse-heavy scan.

    The 256 MB default assumes scan-bound work; this pipeline does
    ~10-100× more CPU per byte (Arrow round-trip + vectorized regex),
    so smaller splits keep every core busy and bound task duration.
    Target ≈ ``waves`` task waves per core; clamp to [8 MB, 256 MB].
    Measured on the 16M-row bench: 8 MB splits beat 256 MB by ~1.6×
    at 8 cores and ~1.7× at 32 (tools/bench_scaling.py).

    Sizing goes through the Hadoop FileSystem API (fsio), so ``s3a://``
    and ``hdfs://`` inputs size identically to local paths. A glob is
    not sized: the split size stays as it is."""
    if fsio.has_glob(input_path):
        return
    try:
        total = fsio.total_bytes(spark, input_path)
    except Exception:
        return
    if not total:
        return
    cores = spark.sparkContext.defaultParallelism
    target = max(8 << 20, min(256 << 20, total // max(1, cores * waves)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))


@dataclass
class PipelineSpec:
    """Declarative pipeline config — the analogue of a fluent-bit config
    file (inputs/filters/outputs), resolved to a DataFrame plan."""

    vocab: list[str]
    routes: list[Route]
    grep_rules: list[GrepRule] = field(default_factory=list)
    grep_op: str = "AND"
    rewrite_rules: list[RewriteTagRule] = field(default_factory=list)
    lookup_path: str | None = None          # enrichment dim parquet
    lookup_key: str = "source"
    # [FILTER] lookup Cache_TTL — resolve the dim through a TTL-cached
    # pinned snapshot (operators/enrich.DimCache, the
    # filter_kubernetes metadata-cache posture). None = plain read.
    lookup_ttl: float | None = None
    tag_expr: str | None = None             # SQL expr for the tag column
    sink_partition_by: list[str] = field(default_factory=lambda: ["source"])
    # [SERVICE] salt_buckets: still parsed, no longer used by the slice
    # metrics (one group-by); goes when perfbench's replay does
    salt_buckets: int = 32
    # sink payload format: columnar parquet (default) or an out_file
    # text serializer (functions/serialize.py): newline-delimited JSON,
    # RFC-4180 csv, or tab-separated ltsv — complex columns as JSON
    # parquet|json_lines|csv|ltsv|template|msgpack (msgpack =
    # PackedForward chunk files, the out_forward byte format)
    sink_format: str = "parquet"
    # out_file Format template line pattern ({key} placeholders, dotted
    # keys reach into structs — upstream:plugins/out_file template mode)
    sink_template: str | None = None
    # Format gelf (out_gelf analogue): which record keys feed the GELF
    # fixed fields — upstream:plugins/out_gelf Gelf_*_Key properties.
    # {"host": col, "message": col, "ts": col, "level": col|None};
    # every other payload column rides as a _-prefixed extra.
    gelf_keys: dict | None = None
    # Decoded-line retention in sink output. 'always' (default) keeps the
    # decoded text on every row — fluent-bit's record body rides to the
    # sink, so dropping it silently would surprise any downstream reader.
    # 'dlq_only' is an explicit bandwidth opt-in (decoded is NULLed for
    # successfully-parsed rows); 'auto' infers dlq_only only when no
    # grep/rewrite rule or tag_expr references the raw line, and warns.
    keep_decoded: str = "always"            # 'always' | 'dlq_only' | 'auto'
    # Second-stage parsers (filter_parser analogue,
    # upstream:plugins/filter_parser): each entry re-parses one column
    # with a named-parser chain, adding a typed struct column. Applied
    # before grep so grep/tag rules can reference the extracted fields.
    parser_filters: list["ParserFilterSpec"] = field(default_factory=list)
    # filter_modify blocks (operators/modify.py ModifySpec), applied
    # after parser_filters / before grep in config order.
    modify_specs: list = field(default_factory=list)
    # filter_nest blocks: ("nest"|"lift", kwargs for operators/nest.py),
    # applied LAST (output shaping — after tag/route/DLQ, so internal
    # schema references survive any reshaping).
    nest_ops: list = field(default_factory=list)
    # filter_type_converter blocks: [(src, dst, type)] via
    # operators/filters.type_convert (try_cast: bad values → null, the
    # record survives — upstream drops just the conversion). Applied
    # after modify_specs.
    type_conversions: list = field(default_factory=list)
    # sampling: (key, rate) — keep 1-in-rate rows by key hash
    # (operators/filters.deterministic_sample; golden-safe, unlike
    # Bernoulli). Applied after grep, before enrichment.
    sample_spec: tuple | None = None
    # filter_throttle blocks: dicts {rate, keys, ts_key, interval} via
    # operators/throttle.throttle. Applied after tag/rewrite (throttle
    # keys default to the tag, like upstream's per-tag instances) and
    # before routing, so dropped rows never reach a sink.
    throttle_specs: list = field(default_factory=list)
    # multiline preset (docker/cri/java/python/go) for the TEXT path:
    # physical lines join into logical events before parsing
    # (operators/multiline.py; needs the ordered read — see
    # build_stages_text / read_text_ordered). Ignored on tokens input.
    multiline_parser: str | None = None
    # filter_expect blocks: (cond_sql, action) with action exit|warn|
    # result_key per upstream:plugins/filter_expect. All rules in one
    # block AND together into cond_sql. Applied after type conversion
    # (expect validates parser/converter output), before grep.
    expect_specs: list = field(default_factory=list)
    # filter_checklist blocks: dicts {path, format, lookup_key, mode,
    # sets} — value list broadcast against lookup_key. mode 'flag'
    # (upstream default: stamp matched + apply Record k v sets on hit),
    # 'keep' (semi join) or 'drop' (anti join) extensions. Applied with
    # the other enrichment joins, right after lookup.
    checklist_specs: list = field(default_factory=list)
    # [FILTER] gopher_quality — integer-exact composite quality gate
    # (functions/text.py gopher_filter): {key, action flag|drop,
    # thresholds}. Applied after type conversion, before grep, so a
    # grep/route can key on gq_keep / gq_reasons.
    gopher_spec: dict | None = None
    # [FILTER] stratified_split — deterministic per-group eval holdout
    # (operators/filters.stratified_split): {group_key, hash_key,
    # rates, default_permille}. Map-only stamp applied right before
    # tagging so the tag expression / routes can key on ``split``.
    split_spec: dict | None = None
    # [FILTER] log_to_metrics blocks
    # (upstream:plugins/filter_log_to_metrics): dicts {name, mode,
    # labels, value_field, buckets, gauge_mode, grep_rules,
    # description}. Side outputs — each slice writes the metric frame
    # under metrics_out/<name>/ (the batch analogue of re-emitting
    # metrics records under a new tag); records pass through untouched.
    metrics_specs: list = field(default_factory=list)
    # [FILTER] script / lua-equivalent blocks
    # (upstream:plugins/filter_lua surface over operators/script.py):
    # dicts {path, call} — ``call`` names a batch function
    # (pandas.DataFrame -> pandas.DataFrame, same schema) in the
    # Python file at ``path``; applied via mapInPandas after the
    # record-shaping filters (modify/type_converter), before expect.
    script_specs: list = field(default_factory=list)
    # [INPUT] http (sources/http.py decode side): {tag, tag_key} —
    # body-per-line capture files decode to records before the text
    # stages; None means the input is not http.
    http_input: dict | None = None
    # [OUTPUT] Format http (sources/http.py encode side): {format,
    # batch_records, order_key, json_date_key, json_date_format,
    # ts_key} — sinks land request-body text files.
    http_output: dict | None = None
    # [OUTPUT] Name es (functions/serialize.to_es_bulk): {index,
    # logstash_format, logstash_prefix, logstash_dateformat (Java
    # pattern), time_key, ts_key, id_key, generate_id,
    # write_operation, batch_records, order_key} — sinks land _bulk
    # body text files.
    es_output: dict | None = None
    # [OUTPUT] Name loki (functions/serialize.to_loki_push): {labels
    # (static k=v map), label_keys (record columns), line_format
    # json|key_value, ts_key, order_key} — sinks land one stream
    # object per line.
    loki_output: dict | None = None
    # [OUTPUT] Name kafka (sources/kafka_batches.py encode side):
    # {message_key_field, topic_key, ts_key} — sinks land RecordBatch
    # v2 segment files, topic = tag (or the Topic_Key record field),
    # records JSON-rendered like out_kafka's default Format json.
    kafka_output: dict | None = None


@dataclass
class ParserFilterSpec:
    """One ``[FILTER] Name parser`` block: re-parse column ``key`` with
    a first-match chain of named parsers into struct column ``out``.
    The source column is always preserved (Reserve_Data On posture —
    this engine adds columns, it never destroys the record body)."""

    key: str
    parsers: list                           # list[RegexParser]
    out: str = "parsed"


_SCRIPT_CACHE: dict = {}


def load_script_fn(path: str, call: str):
    """Load the batch function a ``[FILTER] script`` block names — the
    filter_lua ``script``/``call`` surface with a Python-batch runtime
    (upstream:plugins/filter_lua/lua.c receives one record per call;
    the vectorized contract here is pandas.DataFrame -> pandas.DataFrame
    over each Arrow batch, operators/script.py). Modules load once per
    driver and ship to executors by closure serialization."""
    key = (os.path.abspath(path), call)
    if key not in _SCRIPT_CACHE:
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            f"_fbs_script_{abs(hash(key))}", path)
        if spec is None or spec.loader is None:
            raise ValueError(f"[FILTER] script: cannot load {path!r}")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        fn = getattr(mod, call, None)
        if not callable(fn):
            raise ValueError(
                f"[FILTER] script: {path!r} defines no callable "
                f"{call!r} (the Call property must name a batch "
                f"function taking and returning a pandas.DataFrame)")
        _SCRIPT_CACHE[key] = fn
    return _SCRIPT_CACHE[key]


def default_tag_expr() -> str:
    """tag = app.<source>.<kind> (tag-from-path analogue of in_tail's
    tag_regex, upstream:plugins/in_tail)."""
    return "concat('app.', source, '.', coalesce(fields.kind, 'raw'))"


def build_stages(spark: SparkSession, df: DataFrame, spec: PipelineSpec,
                 *, side_tables: dict | None = None) -> DataFrame:
    """Compose the lazy plan: input → routed (with sinks + dlq_reason).

    ``tokens`` passes through untouched end-to-end (token-equality
    invariant) — every stage only adds columns or filters rows.
    ``side_tables`` holds the lookup dim and checklist lists already
    read (:func:`_read_once`); without it they are read here."""
    from ..functions.parsers import fused_detok_parse
    keep = spec.keep_decoded
    if keep == "auto":
        # any rule addressing the raw line forces full decode retention;
        # otherwise warn that sink rows will carry decoded=NULL
        refs_decoded = (
            any(r.key == "decoded" for r in spec.grep_rules)
            or any(r.key == "decoded" for r in spec.rewrite_rules)
            or "decoded" in (spec.tag_expr or ""))
        keep = "always" if refs_decoded else "dlq_only"
        if keep == "dlq_only":
            import warnings
            warnings.warn(
                "keep_decoded='auto' resolved to 'dlq_only': no pipeline "
                "rule references the decoded line, so sink output will "
                "carry decoded=NULL for parsed rows. Set "
                "keep_decoded='always' to retain it.", stacklevel=2)
    out = fused_detok_parse(df, spark, spec.vocab, keep_decoded=keep)
    return _post_parse_stages(spark, out, spec, side_tables)


def _read_once(side_tables: dict | None, key: tuple,
               read: Callable[[], DataFrame]) -> DataFrame:
    """A side table from ``side_tables``, read on first use (read every
    time without it). ``run_pipeline`` passes one dict per call, so the
    lookup dim and the checklist lists are read (and a parquet schema
    inferred, one Spark job) once per call, and every slice joins the
    same frame. A lookup with a ``Cache_TTL`` is not kept here: its
    DimCache decides per slice whether to re-read."""
    if side_tables is None:
        return read()
    if key not in side_tables:
        side_tables[key] = read()
    return side_tables[key]


def _apply_checklist(spark: SparkSession, out: DataFrame, ck: dict,
                     side_tables: dict | None) -> DataFrame:
    """One [FILTER] checklist block (upstream:plugins/filter_checklist):
    the value list is a one-value-per-line text file (or parquet with a
    ``value`` / lookup-key column) broadcast against ``lookup_key``.
    mode 'flag' stamps ``matched`` and applies ``Record k v`` sets on
    hit (upstream behavior); 'keep'/'drop' are the semi/anti-join
    extensions."""
    from ..operators.enrich import checklist_flag, checklist_keep
    path, key = ck["path"], ck["lookup_key"]
    action = ck.get("action", "flag")
    values = _read_once(side_tables, ("checklist", path), lambda: (
        spark.read.parquet(path) if str(path).endswith(".parquet")
        else spark.read.text(path)))     # upstream: one value per line
    list_key = "value" if "value" in values.columns else values.columns[0]
    join_key, tmp = key, False
    if ck.get("ignore_case"):
        values = values.select(
            F.lower(F.col(list_key).cast("string")).alias(list_key))
        out = out.withColumn("__ck_key",
                             F.lower(F.col(key).cast("string")))
        join_key, tmp = "__ck_key", True
    if action == "keep":
        out = checklist_keep(out, values, join_key, list_key=list_key)
    elif action == "drop":
        dim = values.select(
            F.col(list_key).cast("string").alias("__ck_val")).distinct()
        out = out.join(
            F.broadcast(dim),
            F.col(join_key).cast("string") == F.col("__ck_val"),
            "left_anti")
    else:
        out = checklist_flag(out, values, join_key, list_key=list_key)
        for k, v in ck.get("sets", []):
            out = out.withColumn(
                k, F.when(F.col("matched"), F.lit(v))
                    .otherwise(F.col(k) if k in out.columns
                               else F.lit(None).cast("string")))
    return out.drop("__ck_key") if tmp else out


def _post_parse_stages(spark: SparkSession, out: DataFrame,
                       spec: PipelineSpec,
                       side_tables: dict | None = None) -> DataFrame:
    """[parser filters →] grep → enrich → tag → rewrite → route →
    dlq_reason — shared by the tokens path (fused detok+parse) and the
    raw-text path."""
    if spec.parser_filters:
        from ..functions.parsers import (apply_regex_parser,
                                         parse_first_match)
        for pf in spec.parser_filters:
            if len(pf.parsers) == 1:
                out = apply_regex_parser(out, pf.parsers[0],
                                         key=pf.key, out=pf.out)
            else:
                out = parse_first_match(out, pf.parsers,
                                        key=pf.key, out=pf.out)
    if spec.modify_specs:
        from ..operators.modify import apply_modify
        for ms in spec.modify_specs:
            out = apply_modify(out, ms)
    if spec.type_conversions:
        from ..operators.filters import type_convert
        out = type_convert(out, spec.type_conversions)
    if spec.script_specs:
        from ..operators.script import filter_map_batches
        for ss in spec.script_specs:
            out = filter_map_batches(out, load_script_fn(ss["path"],
                                                         ss["call"]))
    if spec.expect_specs:
        from ..operators.filters import expect
        for es in spec.expect_specs:
            out = expect(out, F.expr(es["cond"]),
                         action=es.get("action", "exit"),
                         result_key=es.get("result_key", "_expect_ok"))
    if spec.gopher_spec:
        from ..functions.text import gopher_filter
        g = spec.gopher_spec
        out = gopher_filter(out, col=g["key"], **g.get("thresholds", {}))
        if g.get("action") == "drop":
            out = out.filter(F.col("gq_keep")) \
                     .drop("gq_reasons", "gq_keep")
    if spec.grep_rules:
        # grep drops rows entirely in fluent-bit; we keep them for the DLQ
        # accounting instead when they fail parse, but a grep miss is a
        # real drop (matches reference: grep'd records vanish silently —
        # we still count them via metrics on the pre-grep frame if needed)
        out = out.filter(grep_predicate(spec.grep_rules, spec.grep_op))
    if spec.sample_spec:
        from ..operators.filters import deterministic_sample
        key, rate = spec.sample_spec
        out = deterministic_sample(out, key, rate)
    if spec.lookup_path:
        if spec.lookup_ttl is not None:
            from ..operators.enrich import dim_cache_for
            dim = dim_cache_for(spec.lookup_path,
                                spec.lookup_ttl).resolve(spark)
        else:
            dim = _read_once(side_tables, ("lookup", spec.lookup_path),
                             lambda: spark.read.parquet(spec.lookup_path))
        out = lookup_join(out, dim, spec.lookup_key)
    for ck in spec.checklist_specs:
        out = _apply_checklist(spark, out, ck, side_tables)
    if spec.split_spec:
        from ..operators.filters import stratified_split
        sp = spec.split_spec
        out = stratified_split(out, sp["group_key"], sp["hash_key"],
                               sp.get("rates", {}),
                               sp.get("default_permille", 0))
    out = out.withColumn("tag", F.expr(spec.tag_expr or default_tag_expr()))
    if spec.rewrite_rules:
        out = apply_rewrite_tag(out, spec.rewrite_rules)
    if spec.throttle_specs:
        from ..operators.throttle import throttle
        for tsp in spec.throttle_specs:
            out = throttle(out, tsp["rate"], tsp["keys"],
                           ts_col=tsp.get("ts_key"),
                           interval=tsp.get("interval", "1 minute"),
                           tiebreak=tsp.get("tiebreak") or ["doc_id"])
    out = with_routes(out, spec.routes)
    out = out.withColumn(
        "dlq_reason",
        F.when(~F.col("parse_ok"), F.lit("parse_fail"))
         .when(F.size("sinks") == 0, F.lit("no_route")))
    if spec.nest_ops:
        # nest/lift are OUTPUT-SHAPING transforms (flb users nest/
        # flatten the record for the sink), so they run after tagging/
        # routing — internal stages (tag_expr, rewrite rules, DLQ) keep
        # their schema references regardless of reshaping.
        from ..operators.nest import lift, nest
        for op, kw in spec.nest_ops:
            out = (nest(out, **kw) if op == "nest" else lift(out, **kw))
    return out


def read_text_ordered(spark: SparkSession, path) -> DataFrame:
    """Text read with a DETERMINISTIC per-file order column —
    ``(value, line_no)`` — which the multiline joiners require (plain
    ``spark.read.text`` guarantees no row order). ``wholetext`` loads
    each FILE as one row (memory bounded by the rotated-log file size —
    the in_tail deployment shape), then split + posexplode numbers the
    physical lines. 100 TB shape: parallelism = one task per file,
    which matches how log corpora arrive (many rotated files)."""
    whole = spark.read.text(path, wholetext=True)
    lines = F.split(F.regexp_replace("value", r"\n$", ""), "\n")
    return whole.select(
        F.posexplode(lines).alias("line_no", "value"))


def build_stages_text(spark: SparkSession, df_text: DataFrame,
                      spec: PipelineSpec,
                      source_regex: str = r"([^/]+)\.log", *,
                      side_tables: dict | None = None) -> DataFrame:
    """The RAW-TEXT ingestion path — what a fluent-bit user actually
    tails (`spark.read.text` over .log files), sharing every stage
    after the parse with the tokens path:

    - ``source`` extracted from the file path (in_tail tag-from-path,
      upstream:plugins/in_tail tag_regex) via ``source_regex``;
    - optional MULTILINE JOIN (``spec.multiline_parser`` one of the
      flb presets docker/cri/java/python/go): physical lines group into
      logical events BEFORE parsing — requires the ordered read
      (``read_text_ordered``), since joining needs line order;
    - ``doc_id`` content-derived (xxhash64 of file + line — stable
      across re-runs, duplicate identical lines share an id);
    - ``n_tok`` = whitespace token count of the line (the token-table
      path gets it from the input schema);
    - the SAME vectorized parser as the fused path (one Arrow-batched
      pandas UDF — no per-row Python).

    ``side_tables`` is as for :func:`build_stages`.
    """
    from ..functions.parsers import with_parsed
    extra = [c for c in df_text.columns
             if c not in ("value", "line_no", "_input_file")]
    # a decoder that crossed the Python/Arrow boundary (syslog framing)
    # supplies _input_file itself — input_file_name() is empty there
    src_file = (F.col("_input_file")
                if "_input_file" in df_text.columns
                else F.input_file_name())
    out = df_text.select(
        F.col("value").alias("decoded"),
        src_file.alias("_input_file"),
        *(["line_no"] if "line_no" in df_text.columns else []),
        *extra)
    if spec.multiline_parser:
        if "line_no" not in out.columns:
            raise ValueError(
                "multiline joining needs an ordered text read — load the "
                "input with read_text_ordered(spark, path) so each line "
                "carries (file, line_no)")
        from ..operators.multiline import multiline_preset
        # extras (e.g. the _lineage struct) are constant per file, so a
        # tiny per-file first() table re-attaches them after the join
        extras_by_file = None
        if extra:
            extras_by_file = (out.groupBy("_input_file")
                              .agg(*[F.first(c).alias(c) for c in extra]))
        ml = multiline_preset(out, spec.multiline_parser,
                              "_input_file", "line_no", "decoded")
        out = ml.select("_input_file",
                        F.col("event").alias("decoded"))
        if extras_by_file is not None:
            out = out.join(F.broadcast(extras_by_file), "_input_file")
    out = (out
           .withColumn("source",
                       F.regexp_extract("_input_file", source_regex, 1))
           .withColumn("doc_id",
                       F.concat(F.lit("t"),
                                F.abs(F.xxhash64("_input_file", "decoded"))
                                .cast("string")))
           .withColumn("n_tok", F.size(F.split("decoded", " ")))
           .drop("_input_file", *(["line_no"] if "line_no" in out.columns
                                  else [])))
    out = with_parsed(out, "decoded")
    return _post_parse_stages(spark, out, spec, side_tables)


# ---------------------------------------------------------------------------
# Source adapters: one entry per input format
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Source:
    """One input format (a fluent-bit input plugin's file subset).

    ``read`` turns slice ``i``'s files into the frame ``stages`` takes,
    ``_lineage`` stamped on the raw scan. ``tag_col`` is the decoder's
    own tag, used unless the spec sets ``tag_expr``. ``ok_col`` flags
    the records the decoder accepted: the rest go to the DLQ as
    ``parse_fail``."""

    read: Callable[[SparkSession, list, int, PipelineSpec], DataFrame]
    stages: Callable[..., DataFrame]
    tag_col: str | None = None
    ok_col: str | None = None


def _lineage(i: int, input_file: Column) -> Column:
    return F.struct(F.lit(i).alias("batch_id"),
                    input_file.alias("input_file"))


def _scan_tokens(spark: SparkSession, paths: list) -> DataFrame:
    return spark.read.schema(TOKENS_SCHEMA).parquet(*paths)


def _scan_text(spark: SparkSession, paths: list) -> DataFrame:
    return spark.read.text(paths)


def _scan_binary(spark: SparkSession, paths: list) -> DataFrame:
    return spark.read.format("binaryFile").load(paths)


def _read_tokens(spark, files, i, spec):
    # lineage is stamped on the RAW scan, where input_file_name() is
    # the row's own file
    return _scan_tokens(spark, files).withColumn(
        "_lineage", _lineage(i, F.input_file_name()))


def _read_text(spark, files, i, spec):
    reader = (read_text_ordered(spark, files) if spec.multiline_parser
              else _scan_text(spark, files))
    return reader.withColumn("_lineage", _lineage(i, F.input_file_name()))


def _read_forward(spark, files, i, spec):
    """in_forward file subset: another pipeline's (or a fluent-bit
    sender's) chunk files. The transmitted tag is kept (in_forward
    keeps the sender's tag, unlike tail's tag-from-path). Lineage rides
    the decoder's path passthrough (input_file_name() dies at the
    Python boundary)."""
    from ..sources.forward import TOKEN_FIELDS, read_forward_files
    fdf = read_forward_files(spark, files, TOKEN_FIELDS, with_path=True)
    return (fdf.withColumnRenamed("tag", "fwd_tag")
            .withColumn("_lineage", _lineage(i, F.col("_input_file")))
            .drop("_input_file", "sec", "nsec"))


def _read_http(spark, files, i, spec):
    """in_http file subset (sources/http.py): each line is one POST
    body; records explode out, and the conventional "log" field (or
    the whole record, re-rendered) becomes the raw line. A malformed
    body keeps the raw body as the line: upstream answers 400 and
    never ingests it, a batch replay keeps the bytes for the
    dead-letter audit."""
    from ..sources.http import decode_http_json
    hp = spec.http_input or {}
    raw = (_scan_text(spark, files)
           .filter(F.length(F.trim("value")) > 0)
           .withColumnRenamed("value", "body")
           .withColumn("_lineage", _lineage(i, F.input_file_name())))
    dec = decode_http_json(raw, tag=hp.get("tag", "http.0"),
                           tag_key=hp.get("tag_key"),
                           keep_cols=("body", "_lineage"))
    return dec.select(
        F.when(F.col("parse_ok"),
               F.coalesce(F.col("record")["log"], F.to_json("record")))
         .otherwise(F.col("body")).alias("value"),
        F.col("tag").alias("http_tag"),
        F.col("parse_ok").alias("__http_ok"),
        "_lineage")


def _read_syslog(spark, files, i, spec):
    """in_syslog TCP file subset (sources/syslog_frames.py): each
    capture file is one connection's octet-framed byte stream (RFC
    6587). The configured [FILTER] parser applies the syslog preset
    (upstream in_syslog's Parser property). Upstream drops a connection
    on a framing error; a batch replay keeps the bytes."""
    from ..sources.syslog_frames import decode_octet_frames
    raw = _scan_binary(spark, files).select("path", "content")
    dec = decode_octet_frames(raw, "content", group_col="path")
    return dec.select(
        F.col("msg").alias("value"),
        F.col("group").alias("_input_file"),
        F.col("frame_ok").alias("__frame_ok"),
        _lineage(i, F.col("group")).alias("_lineage"))


def _read_kafka(spark, files, i, spec):
    """in_kafka file subset (sources/kafka_batches.py): each capture
    file is a run of RecordBatch v2 batches, and the topic is the tag
    (upstream in_kafka tags by topic). A CRC-failed batch decodes to
    one sentinel row (upstream's consumer aborts the fetch)."""
    from ..sources.kafka_batches import read_kafka_segments
    kdf = read_kafka_segments(spark, files, with_path=True)
    return kdf.select(
        F.coalesce(F.col("value").cast("string"), F.lit("")).alias("value"),
        F.col("topic").alias("kafka_tag"),
        F.col("crc_ok").alias("__crc_ok"),
        F.col("_input_file"),
        _lineage(i, F.col("_input_file")).alias("_lineage"))


def _read_systemd(spark, files, i, spec):
    """in_systemd file subset (sources/journal_export.py): Journal
    Export Format streams (journalctl -o export). MESSAGE is the line,
    and the tag is systemd.<_SYSTEMD_UNIT>. A malformed entry keeps its
    partial fields."""
    from ..sources.journal_export import decode_export, with_journal_tag
    raw = _scan_binary(spark, files).select("path", "content")
    dec = with_journal_tag(
        decode_export(raw, "content", passthrough=["path"]))
    return dec.select(
        F.coalesce(F.element_at("fields", "MESSAGE"),
                   F.lit("")).alias("value"),
        F.col("tag").alias("journal_tag"),
        F.col("entry_ok").alias("__entry_ok"),
        F.col("path").alias("_input_file"),
        _lineage(i, F.col("path")).alias("_lineage"))


SOURCES: dict[str, Source] = {
    "tokens": Source(_read_tokens, build_stages),
    "text": Source(_read_text, build_stages_text),
    "forward": Source(_read_forward, build_stages, tag_col="fwd_tag"),
    "http": Source(_read_http, build_stages_text, "http_tag", "__http_ok"),
    "syslog": Source(_read_syslog, build_stages_text, ok_col="__frame_ok"),
    "kafka": Source(_read_kafka, build_stages_text, "kafka_tag", "__crc_ok"),
    "systemd": Source(_read_systemd, build_stages_text, "journal_tag",
                      "__entry_ok"),
}


def _source(input_format: str) -> Source:
    if input_format not in SOURCES:
        raise ValueError(f"input format must be {'|'.join(SOURCES)}, "
                         f"got {input_format!r}")
    return SOURCES[input_format]


def _list_inputs(spark: SparkSession, input_format: str,
                input_path: str) -> list[str]:
    """The input files, sorted: the order slices are cut from. Every
    format reads files the same way, so the listing is the file
    sources' own, made on the driver (``fsio.list_files``): no Spark
    job, and the same strings as ``inputFiles()``, which the
    committed manifests hold."""
    _source(input_format)   # an unknown format fails before any write
    return fsio.list_files(spark, input_path)


def _decoded(spark: SparkSession, spec: PipelineSpec, input_format: str,
             files: list[str], i: int):
    src = _source(input_format)
    if src.tag_col and not spec.tag_expr:
        spec = replace(spec, tag_expr=src.tag_col)
    return src, src.read(spark, files, i, spec), spec


def read_routed(spark: SparkSession, spec: PipelineSpec, input_format: str,
                files: list[str], i: int,
                side_tables: dict | None = None) -> DataFrame:
    """Slice ``i``'s files through their adapter and the stages: the
    routed frame the slice writer takes. A record the decoder rejected
    is forced to the DLQ as ``parse_fail``, kept for the dead-letter
    audit; the decoder's tag and ok columns are dropped."""
    src, df, spec = _decoded(spark, spec, input_format, files, i)
    out = src.stages(spark, df, spec, side_tables=side_tables)
    if src.ok_col:
        ok = F.col(src.ok_col)
        out = (out.withColumn("parse_ok", F.col("parse_ok") & ok)
                  .withColumn("dlq_reason",
                              F.when(~ok, F.lit("parse_fail"))
                               .otherwise(F.col("dlq_reason"))))
    helpers = [c for c in (src.ok_col, src.tag_col) if c]
    return out.drop(*helpers) if helpers else out


def read_tagged(spark: SparkSession, spec: PipelineSpec, input_format: str,
                input_path: str) -> DataFrame:
    """The whole input through the same adapter, for the
    ``[STREAM_TASK]`` SQL: records the decoder rejected are dropped
    before the stages, and there is no ``_lineage`` column."""
    files = _list_inputs(spark, input_format, input_path)
    src, df, spec = _decoded(spark, spec, input_format, files, 0)
    if src.ok_col:
        df = df.filter(F.col(src.ok_col)).drop(src.ok_col)
    return src.stages(spark, df, spec).drop("_lineage")


def sink_names(spec: PipelineSpec) -> list[str]:
    seen: list[str] = []
    for r in spec.routes:
        if r.sink not in seen:
            seen.append(r.sink)
    return seen


def slice_metrics(routed: DataFrame, salt_buckets: int) -> DataFrame:
    """Per-tag lineage metrics for one slice: records, token sums,
    distinct sources and DLQ rows by reason — the cmetrics/flb_metrics
    analogue (upstream:src/flb_metrics.c), counted in one group-by over
    the persisted routed frame, so it costs no extra scan of the input.
    Partial aggregation collapses a hot tag on the map side, so a salt
    would only add a shuffle; ``salt_buckets`` is unused. A NULL tag is
    one group like any other."""
    reason = F.col("dlq_reason")
    return routed.groupBy("tag").agg(
        F.count("*").alias("records"),
        F.sum("n_tok").alias("sum_n_tok"),
        F.size(F.collect_set("source")).cast("bigint")
         .alias("distinct_sources"),
        F.sum(F.when(reason == "parse_fail", 1).otherwise(0))
         .alias("parse_fail"),
        F.sum(F.when(reason == "no_route", 1).otherwise(0))
         .alias("no_route"))


# ---------------------------------------------------------------------------
# Sink writers: one entry per sink format
# ---------------------------------------------------------------------------


def _stage_and_publish(spark: SparkSession, rows: DataFrame, fmt: str,
                       spec: PipelineSpec, output_dir: str, i: int,
                       sinks: list[str]) -> None:
    """Every sink of slice ``i`` in one write job: ``rows`` carry one
    ``__sink`` per route hit (fluent-bit flushes a chunk to every
    matching output) and are partitioned by sink under
    ``_stage/batch_id=<i>``, then published."""
    (rows.write.mode("overwrite")
         .partitionBy("__sink", *spec.sink_partition_by).format(fmt)
         .save(f"{output_dir}/_stage/batch_id={i}"))
    _publish(spark, output_dir, i, sinks)


def _publish(spark: SparkSession, output_dir: str, i: int,
             sinks: list[str]) -> None:
    """Move each sink's rows from slice ``i``'s stage onto
    ``sinks/<sink>/batch_id=<i>``, replacing what an earlier attempt
    left there, then delete the stage.

    This runs before the manifest commit, so a crash anywhere in here
    leaves the slice uncommitted and the resume redoes it: the stage is
    written again and every sink replaced again. A sink with no rows
    gets an empty directory, as a filtered write of no rows leaves.
    Renames are cheap on HDFS and local disks; on object stores (s3a) a
    rename is a copy plus a delete, so there publishing copies the
    slice's sink bytes once more."""
    stage = f"{output_dir}/_stage/batch_id={i}"
    # the partition directory name Spark's writer gave each sink value
    escape = (spark._jvm.org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName)
    for s in sinks:
        dst = f"{output_dir}/sinks/{s}/batch_id={i}"
        src = f"{stage}/__sink={escape(s)}"
        fsio.delete(spark, dst)
        if fsio.exists(spark, src):
            fsio.rename(spark, src, dst)
        else:
            fsio.mkdirs(spark, dst)
    fsio.delete(spark, f"{output_dir}/_stage")


def _write_parquet(spark, good, payload_cols, spec, output_dir, i, sinks):
    _stage_and_publish(spark, good.withColumn("__sink", F.explode("sinks")),
                       "parquet", spec, output_dir, i, sinks)


def _line_sinks(serialize):
    """An out_file text format (functions/serialize.py): the line is
    serialized once per row, before the explode over its sinks."""
    def write(spark, good, payload_cols, spec, output_dir, i, sinks):
        lines = (serialize(good, payload_cols, spec)
                 .select("value", F.explode("sinks").alias("__sink"),
                         *spec.sink_partition_by))
        _stage_and_publish(spark, lines, "text", spec, output_dir, i, sinks)
    return write


def _to_gelf(d, cols, spec):
    # out_gelf posture: fixed keys from gelf_keys, every other payload
    # column as a _-prefixed extra
    gk = spec.gelf_keys or {}
    host = gk.get("host", "host")
    msg = gk.get("message", "short_message")
    tsc = gk.get("ts", "timestamp")
    lvl = gk.get("level")
    named = {host, msg, tsc} | ({lvl} if lvl else set())
    return to_gelf(d, host, msg, tsc, level_col=lvl,
                   extra_cols=[c for c in cols if c not in named])


def _each_sink(write_one):
    """A format with its own framing (request bodies, chunk or segment
    files): one filtered job per sink, ``write_one(rows_for_sink,
    payload_cols, spec, i, dest)``. Their record bodies leave out the
    tag (http, kafka and msgpack carry it in their framing)."""
    def write(spark, good, payload_cols, spec, output_dir, i, sinks):
        cols = [c for c in payload_cols if c != "tag"]
        for s in sinks:
            write_one(good.filter(F.array_contains("sinks", s)), cols, spec,
                      i, f"{output_dir}/sinks/{s}/batch_id={i}")
    return write


def _order_key(opts: dict, rows: DataFrame) -> str | None:
    return opts.get("order_key") or (
        "doc_id" if "doc_id" in rows.columns else None)


def _http_sink(rows, payload_cols, spec, i, dest):
    """out_http payload subset (sources/http.py): request-body lines,
    deterministic (tag, order_key) batches of batch_records records per
    POST body, flb_pack json/json_lines/json_stream rendering. One
    exchange keyed by (tag, batch_no)."""
    from ..sources.http import encode_http_json
    ho = spec.http_output or {}
    bodies = encode_http_json(
        rows, payload_cols, fmt=ho.get("format", "json"),
        batch_records=int(ho.get("batch_records", 100)),
        order_col=_order_key(ho, rows), tag_col="tag",
        ts_col=ho.get("ts_key"),
        json_date_key=ho.get("json_date_key", "date"),
        json_date_format=ho.get("json_date_format", "double"))
    bodies.select(F.col("body").alias("value")).write.mode("overwrite") \
        .text(dest)


def _es_sink(rows, payload_cols, spec, i, dest):
    """out_es payload subset (functions/serialize.py to_es_bulk): _bulk
    request bodies, action+source NDJSON pairs in deterministic (index,
    order_key) batches. Transport (HTTP client, auth, 429 retry) is a
    connector concern."""
    from ..functions.serialize import to_es_bulk
    eo = spec.es_output or {}
    id_col = eo.get("id_key")
    if eo.get("generate_id"):
        # upstream Generate_ID: content-hash _id — idempotent
        # re-delivery dedupes server-side
        rows = rows.withColumn("__gen_id", F.md5(F.to_json(
            F.struct(*[F.col(c) for c in payload_cols]))))
        id_col = "__gen_id"
    bodies = to_es_bulk(
        rows, payload_cols,
        index=eo.get("index", "fluent-bit"),
        logstash_format=bool(eo.get("logstash_format")),
        logstash_prefix=eo.get("logstash_prefix", "logstash"),
        logstash_dateformat=eo.get("logstash_dateformat", "yyyy.MM.dd"),
        ts_col=eo.get("ts_key"),
        time_key=eo.get("time_key", "@timestamp"),
        id_col=id_col,
        write_op=eo.get("write_operation", "create"),
        batch_records=int(eo.get("batch_records", 500)),
        order_col=_order_key(eo, rows))
    bodies.select(F.col("body").alias("value")).write.mode("overwrite") \
        .text(dest)


def _loki_sink(rows, payload_cols, spec, i, dest):
    """out_loki payload subset (functions/serialize.py to_loki_push):
    one stream object per line (labels + ordered ["<ns>","<line>"]
    values); a push connector wraps lines into {"streams":[...]}.
    Without Ts_Key the batch id stands in for flush time
    (deterministic replay beats wall clock)."""
    from ..functions.serialize import to_key_value_line, to_loki_push
    lo = spec.loki_output or {}
    label_cols: list[str] = []
    for k, v in (lo.get("labels") or {"job": "fluent-bit"}).items():
        rows = rows.withColumn(k, F.lit(v))
        label_cols.append(k)
    for k in lo.get("label_keys") or []:
        if k not in label_cols:
            label_cols.append(k)
    line_cols = [c for c in payload_cols if c not in label_cols]
    if lo.get("line_format", "json") == "key_value":
        rows = to_key_value_line(rows, line_cols, out="__line")
    else:
        rows = rows.withColumn("__line", F.to_json(
            F.struct(*[F.col(c) for c in line_cols])))
    ts_key = lo.get("ts_key")
    if ts_key is None:
        rows = rows.withColumn("__ts", F.timestamp_seconds(F.lit(i)))
        ts_key = "__ts"
    streams = to_loki_push(rows, label_cols, "__line", ts_key,
                           order_col=_order_key(lo, rows))
    streams.select(F.col("stream_body").alias("value")) \
        .write.mode("overwrite").text(dest)


def _kafka_sink(rows, payload_cols, spec, i, dest):
    """out_kafka posture (upstream:plugins/out_kafka, librdkafka
    transport scoped out): records render to JSON (the default Format
    json), fold into RecordBatch v2 segments per topic per task, and
    land as .log files a real consumer (or in_kafka here) can replay.
    Topic = tag, or Topic_Key lifts it from a record column;
    Message_Key_Field sets the record key; Timestamp_Key stamps
    CreateTime from a record timestamp column."""
    from ..sources.kafka_batches import (pack_record_batches,
                                         write_kafka_segments)
    ko = spec.kafka_output or {}
    topic = (F.col(ko["topic_key"]).cast("string")
             if ko.get("topic_key") else F.col("tag"))
    kcols = [F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
             .alias("__body"), topic.alias("__topic")]
    kf = ko.get("message_key_field")
    if kf:
        kcols.append(F.col(kf).cast("string").alias("__key"))
    ts_key = ko.get("ts_key")
    if ts_key:
        kcols.append(F.col(ts_key).alias("__ts"))
    chunks = pack_record_batches(
        rows.select(*kcols), topic_col="__topic",
        ts_col="__ts" if ts_key else None,
        key_col="__key" if kf else None, value_col="__body")
    write_kafka_segments(chunks, dest)


def _msgpack_sink(rows, payload_cols, spec, i, dest):
    """out_forward posture: per-task PackedForward chunk files, the
    bytes fluent-bit's forward consumers and buffer chunks carry
    (sources/forward.py). The tag frames each chunk; the record map is
    walked off the frame's own schema (token arrays ride as msgpack int
    arrays — the per-row invariant survives the sink bytes,
    tests/test_forward.py)."""
    from ..sources.forward import (pack_chunks, pack_chunks_arrow,
                                   record_entries, write_forward_chunks)
    try:
        # vectorized fast path (byte-identical; 3-6×) for
        # string/int/int-array payloads; it rejects other types here,
        # while the plan is built
        chunks = pack_chunks_arrow(rows, "tag", payload_cols)
    except ValueError:
        chunks = pack_chunks(record_entries(rows, payload_cols),
                             "tag", "entry")
    write_forward_chunks(chunks, dest)


# writer(spark, good, payload_cols, spec, output_dir, i, sinks) per sink
# format: every sink of slice i lands under sinks/<sink>/batch_id=<i>
SINK_WRITERS = {
    "parquet": _write_parquet,
    "json_lines": _line_sinks(lambda d, cols, spec: to_json_lines(d, cols)),
    "csv": _line_sinks(lambda d, cols, spec: to_csv_line(d, cols)),
    "ltsv": _line_sinks(lambda d, cols, spec: to_ltsv_line(d, cols)),
    "template": _line_sinks(
        lambda d, cols, spec: to_template(d, spec.sink_template or "")),
    "msgpack": _each_sink(_msgpack_sink),
    "gelf": _line_sinks(_to_gelf),
    "http": _each_sink(_http_sink),
    "es": _each_sink(_es_sink),
    "loki": _each_sink(_loki_sink),
    "kafka": _each_sink(_kafka_sink),
}


def write_slice(spark: SparkSession, routed: DataFrame, spec: PipelineSpec,
                output_dir: str, i: int, sinks: list[str]) -> tuple[int, int]:
    """Write slice ``i`` of a routed frame: every sink, the
    log_to_metrics side outputs, the DLQ and the per-tag ``_metrics``.
    The batch job calls it per slice, the streaming fan-out per
    micro-batch. The frame is persisted once and read by each write.
    Returns ``(rows_in, rows_dlq)``, counted by an Observation on the
    DLQ write: one pass over the persisted frame, no extra action."""
    if spec.sink_format not in SINK_WRITERS:
        raise ValueError(f"sink format must be {'|'.join(SINK_WRITERS)}, "
                         f"got {spec.sink_format!r}")
    routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        good = routed.filter(F.col("dlq_reason").isNull())
        payload_cols = [c for c in good.columns if c not in
                        ("sinks", "routes_mask", "dlq_reason", "_lineage")]
        SINK_WRITERS[spec.sink_format](spark, good, payload_cols, spec,
                                       output_dir, i, sinks)
        # [FILTER] log_to_metrics side outputs: the batch analogue of
        # re-emitting metric records under a new tag — each slice
        # writes the metric frame per block
        # (upstream:plugins/filter_log_to_metrics). Derived from the
        # routed GOOD frame (the filter sits after parsing), optionally
        # pre-filtered by the block's regex/exclude.
        for ms in spec.metrics_specs:
            from ..operators.aggregate import log_to_metrics
            src = good
            if ms.get("grep_rules"):
                src = src.filter(grep_predicate(
                    ms["grep_rules"], ms.get("grep_op", "AND")))
            mdf = log_to_metrics(
                src, ms["mode"], ms.get("labels", []),
                value_field=ms.get("value_field"),
                buckets=ms.get("buckets"),
                gauge_mode=ms.get("gauge_mode", "avg"))
            mdf.write.mode("overwrite").parquet(
                f"{output_dir}/metrics_out/{ms['name']}/batch_id={i}")
        dlq_cols = [c for c in ("doc_id", "tokens", "n_tok", "source",
                                "decoded", "tag", "dlq_reason",
                                "_lineage") if c in routed.columns]
        counts = Observation()
        (routed.observe(counts, F.count(F.lit(1)).alias("rows_in"),
                        F.count("dlq_reason").alias("rows_dlq"))
               .filter(F.col("dlq_reason").isNotNull())
               .select(*dlq_cols)
               .write.mode("overwrite")
               .parquet(f"{output_dir}/dlq/batch_id={i}"))
        (slice_metrics(routed, spec.salt_buckets)
         .withColumn("batch_id", F.lit(i))
         .write.mode("overwrite")
         .parquet(f"{output_dir}/_metrics/b{i}"))
        return counts.get["rows_in"], counts.get["rows_dlq"]
    finally:
        routed.unpersist()


# ---------------------------------------------------------------------------
# Checkpointed runner
# ---------------------------------------------------------------------------


def _manifest_dir(output_dir: str, run_id: str) -> str:
    # plain '/' join, NOT os.path.join — output_dir may be a URI
    # (s3a://bucket/out); the separator is '/' on every Hadoop FS
    return f"{output_dir}/_checkpoints/{run_id}"


def completed_slices(spark: SparkSession, output_dir: str,
                     run_id: str) -> set[int]:
    """Slice ids with a committed manifest — via the Hadoop FS API, so
    resume works against s3a://, hdfs:// and file: alike."""
    out = set()
    for f in fsio.list_names(spark, _manifest_dir(output_dir, run_id)):
        if f.startswith("slice_") and f.endswith(".json"):
            out.add(int(f[6:-5]))
    return out


def _check_resume_plan(spark: SparkSession, output_dir: str, run_id: str,
                       done: set[int], slices: list[list[str]]) -> None:
    """Each committed slice must get the same files now as when it was
    committed. Slices are cut from the sorted listing by position, so a
    file added or removed, or another ``n_slices``, moves files between
    slices: skipping a committed slice would then lose some rows and
    redo others. Fail before any write instead."""
    d = _manifest_dir(output_dir, run_id)
    for i in sorted(done):
        was = fsio.read_json(spark, f"{d}/slice_{i}.json")["files"]
        now = slices[i] if i < len(slices) else []
        if was != now:
            raise ValueError(
                f"run {run_id!r}: committed slice {i} had {len(was)} "
                f"input files, the current listing gives it {len(now)} "
                f"(added {sorted(set(now) - set(was))}, gone "
                f"{sorted(set(was) - set(now))}). The input or n_slices "
                f"changed since the run started; resume with the same "
                f"ones, or start a new run_id.")


def _commit_slice(spark: SparkSession, output_dir: str, run_id: str,
                  i: int, payload: dict) -> None:
    d = _manifest_dir(output_dir, run_id)
    # dot-temp + rename through the path's own filesystem (fsio docstring
    # covers the per-FS atomicity contract)
    fsio.write_json_atomic(spark, f"{d}/slice_{i}.json", payload)


def run_pipeline(spark: SparkSession, spec: PipelineSpec, input_path: str,
                 output_dir: str, run_id: str = "run0",
                 n_slices: int = 1,
                 fail_after_slice: int | None = None,
                 input_format: str = "tokens") -> dict:
    """Execute the pipeline with per-slice checkpointing.

    Returns run stats. ``fail_after_slice`` injects a crash for the
    resume property test (kill after k slices → re-run → identical sinks).

    Scale shape: each slice is an independent bounded job whose sink
    writes are partition-local (no shuffle — routing is a map-side
    expression); the only shuffle per slice is the metrics aggregation,
    one group-by on tag. The input is listed on the driver, and the
    lookup dim and checklist lists are read once per call, not per
    slice. On a 1000-executor cluster slices become much larger file
    groups; the manifest bounds re-work on failure to one slice.
    """
    t0 = time.time()
    tune_scan_partitions(spark, input_path)
    all_files = _list_inputs(spark, input_format, input_path)
    slices = [all_files[i::n_slices] for i in range(n_slices)]
    slices = [s for s in slices if s]
    done = completed_slices(spark, output_dir, run_id)
    _check_resume_plan(spark, output_dir, run_id, done, slices)
    sinks = sink_names(spec)
    stats = {"slices_total": len(slices), "slices_skipped": len(done),
             "rows_in": 0, "rows_dlq": 0}
    side_tables: dict = {}
    for i, files in enumerate(slices):
        if i in done:
            continue
        routed = read_routed(spark, spec, input_format, files, i,
                             side_tables)
        rows_in, rows_dlq = write_slice(spark, routed, spec, output_dir,
                                        i, sinks)
        stats["rows_in"] += rows_in
        stats["rows_dlq"] += rows_dlq
        _commit_slice(spark, output_dir, run_id, i, {
            "files": files, "rows_in": rows_in, "rows_dlq": rows_dlq,
            "sinks": sinks, "ts": time.time()})
        if fail_after_slice is not None and i >= fail_after_slice:
            raise RuntimeError(f"injected failure after slice {i}")
    stats["wall_sec"] = time.time() - t0
    return stats


def read_sink(spark: SparkSession, output_dir: str, sink: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/sinks/{sink}")


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{output_dir}/_metrics"))


def read_dlq(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/dlq")
