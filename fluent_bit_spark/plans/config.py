"""Config-file front end: fluent-bit classic-conf and YAML configs →
:class:`~fluent_bit_spark.plans.pipeline.PipelineSpec`.

fluent-bit users drive everything from a config file
(upstream:src/flb_cf.c classic mode, upstream:src/flb_cf_yaml.c YAML
mode): ``[INPUT]/[FILTER]/[OUTPUT]`` sections (classic) or a
``pipeline: {inputs, filters, outputs}`` tree (YAML), each section a
property map with a ``match`` tag pattern. This module maps that
surface onto the engine's declarative spec — both formats parse into
one intermediate tree and share a single spec builder, mirroring how
flb_cf presents one config API over both readers.

Supported sections / properties (the subset with a batch meaning here):

- ``[INPUT]`` / ``inputs:`` — ``name`` (``tail``/``tokens``/``dummy``),
  ``path`` (informational; the runner's ``--input`` wins), ``format``
  (``tokens`` | ``text``), ``vocab_parquet`` (token_id/piece table for
  the detokenizer; default: the built-in fixture vocab), ``tag_expr``
  (engine extension: SQL expression for the tag column),
  ``multiline.parser`` (in_tail posture — same joiner as the filter
  form below). The tag is set here, at input, before any filter; a
  ``tag_expr`` that reads a column a filter adds is a plan-time error.
- ``[FILTER]`` / ``filters:`` — run in config order, each on the
  records whose tag its ``match`` (glob) or ``match_regex`` selects
  (upstream:src/flb_filter.c); no Match means every tag (upstream
  unloads such a filter). Another Match than ``*`` keeps the other
  tags' rows and values: grep, sampling, checklist, expect and
  stratified_split filter or write only matching rows,
  modify/record_modifier (Set/Add only) and rewrite_tag gate their
  rules on it, parser/type_converter/lookup write NULL elsewhere into a
  column they add. script/lua, throttle, nest, multiline and
  log_to_metrics raise instead. Divergences: a rewrite_tag copy passes
  only the filters after its rewrite_tag, matched by its new tag
  (upstream re-injects it at input), and nest runs after routing.
  Plugins (plans/filters.py readers list their properties): grep,
  rewrite_tag, lookup, parser, modify, record_modifier, nest, throttle,
  type_converter, sampling, multiline, expect, checklist,
  stratified_split, log_to_metrics, script (alias lua).
- ``[INPUT] name http`` — body-per-line capture files through
  sources/http.py: ``tag`` (listener tag), ``tag_key`` (lift tag from
  a record field); record ``log`` fields become the raw line for the
  parser stages, malformed bodies DLQ.
- ``[OUTPUT] name http`` — ``format`` ``json``/``json_lines``/
  ``json_stream`` request bodies (sources/http.py), ``batch_records``,
  ``order_key``, ``ts_key`` + ``json_date_key``/``json_date_format``.
- ``[OUTPUT] name es`` — ``index``, ``logstash_format`` +
  ``logstash_prefix``/``logstash_dateformat`` (strftime) + ``ts_key``,
  ``time_key``, ``id_key``/``generate_id``, ``write_operation``,
  ``batch_records``/``order_key``: _bulk bodies via
  functions/serialize.to_es_bulk (upstream:plugins/out_es payload;
  transport scoped out).
- ``[OUTPUT] name loki`` — ``labels`` (static ``k=v`` list),
  ``label_keys`` (``$record`` columns), ``line_format``
  ``json``/``key_value``, ``ts_key``/``order_key``: stream objects via
  functions/serialize.to_loki_push (upstream:plugins/out_loki payload;
  transport + tenant header scoped out).
- ``[PARSER]`` — ``name`` + ``format regex`` + ``regex`` (+ ``types``,
  ``time_key``, ``time_format``); syslog preset names map to the
  built-in presets.
- ``[SERVICE] Streams_File`` → ``[STREAM_TASK]`` sections (``Name`` +
  ``Exec <SP SQL>``, upstream:src/stream_processor/flb_sp.c): tasks run
  over the pipeline's tagged frame via the SQL shim
  (``jobs/run_pipeline.py`` writes one parquet dir per task).
- Meta commands (classic mode): ``@INCLUDE glob`` (spliced, sorted,
  cycle-guarded), ``@SET VAR=VALUE``; ``${VAR}`` translates in values
  (@SET first, then process env, unknown → empty).
- ``[OUTPUT]`` / ``outputs:`` — one sink per section: ``match`` (glob;
  ``match_regex`` for regex), ``sink`` (directory name; defaults to
  ``<name>_<i>``), ``format`` (``parquet`` | ``json_lines`` | ``csv``
  | ``ltsv`` | ``template`` | ``msgpack``, must agree across outputs —
  the fan-out writes one payload format), ``template`` (the ``{key}``
  line pattern for ``Format template``, upstream:plugins/out_file
  template mode). ``msgpack`` lands PackedForward chunk files — the
  out_forward / buffer-chunk byte format (sources/forward.py).
- ``[SERVICE]`` / ``service:`` — engine tuning extensions:
  ``salt_buckets``, ``keep_decoded`` (``always`` | ``dlq_only``; any
  other value raises), ``sink_partition_by`` (comma-separated).

Unknown section names raise (a silently-ignored output is a data-loss
foot-gun); unknown properties within a known section are ignored like
fluent-bit does (forward compatibility).
"""

from __future__ import annotations

import os
import re
from typing import Any

from ..functions.parsers import KEEP_DECODED
from ..operators.router import Route
from .filters import (_MODIFY_OPS, _MULTILINE_PRESETS, FILTERS, _as_list,
                      check_scope, filter_match)
from .pipeline import SINK_WRITERS, SOURCES, PipelineSpec

_VAR_RE = re.compile(r"\$\{(\w+)\}")


def _env_translate(s: str, variables: dict[str, str] | None) -> str:
    """``${NAME}`` → @SET variable, else process env, else empty string
    — flb_env_var_translate semantics (upstream:src/flb_env.c: unknown
    variables resolve to "" with a warning, they never survive
    literally)."""
    def sub(m: re.Match) -> str:
        name = m.group(1)
        if variables and name in variables:
            return variables[name]
        return os.environ.get(name, "")
    return _VAR_RE.sub(sub, s)


def resolve_meta(path: str,
                 _seen: frozenset[str] = frozenset()
                 ) -> tuple[list[str], dict[str, str]]:
    """Classic-mode meta commands (upstream:src/flb_meta.c): splice
    ``@INCLUDE pattern`` (glob, relative to the including file, sorted
    for determinism) and collect ``@SET VAR=VALUE`` definitions.
    Returns (flattened config lines, variables). Include cycles and
    unknown @-commands raise — a silently dropped config file is a
    data-loss foot-gun."""
    import glob as globmod
    real = os.path.realpath(path)
    if real in _seen:
        raise ValueError(f"@INCLUDE cycle through {path!r}")
    seen = _seen | {real}
    base = os.path.dirname(real)
    lines: list[str] = []
    variables: dict[str, str] = {}
    with open(path) as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            stripped = line.strip()
            if not stripped.startswith("@"):
                lines.append(line)
                continue
            parts = stripped.split(None, 1)
            cmd = parts[0].upper()
            arg = parts[1].strip() if len(parts) > 1 else ""
            if cmd == "@SET":
                if "=" not in arg:
                    raise ValueError(f"@SET needs VAR=VALUE, got {arg!r}")
                k, v = arg.split("=", 1)
                variables[k.strip()] = v.strip()
            elif cmd == "@INCLUDE":
                pat = arg if os.path.isabs(arg) else os.path.join(base, arg)
                matches = sorted(globmod.glob(pat))
                if not matches:
                    raise ValueError(f"@INCLUDE matched no files: {arg!r}")
                for m in matches:
                    sub_lines, sub_vars = resolve_meta(m, seen)
                    lines.extend(sub_lines)
                    variables.update(sub_vars)
            else:
                raise ValueError(f"unknown meta command {cmd!r} "
                                 f"(supported: @SET, @INCLUDE)")
    return lines, variables


# ---------------------------------------------------------------------------
# classic-conf reader (flb_cf classic mode)
# ---------------------------------------------------------------------------


def parse_classic(text: str,
                  variables: dict[str, str] | None = None
                  ) -> dict[str, Any]:
    """``[SECTION]`` + indented ``Key Value`` lines → the same tree the
    YAML reader produces. Keys are case-insensitive (flb lowercases);
    repeatable keys (``Regex``, ``Exclude``, ``Rule``) accumulate.
    ``${VAR}`` in property VALUES is translated (@SET variables first,
    then the process environment)."""
    tree: dict[str, Any] = {
        "service": {},
        "pipeline": {"inputs": [], "filters": [], "outputs": []},
        "parsers": [],
        "stream_tasks": [],
    }
    section: dict[str, Any] | None = None
    section_kind = ""
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        m = re.fullmatch(r"\[([A-Za-z_]+)\]", line)
        if m:
            section_kind = m.group(1).lower()
            if section_kind == "service":
                section = tree["service"]
            elif section_kind in ("input", "filter", "output"):
                section = {}
                tree["pipeline"][section_kind + "s"].append(section)
            elif section_kind == "parser":
                section = {}
                tree["parsers"].append(section)
            elif section_kind == "stream_task":
                # upstream:src/stream_processor/flb_sp.c — the streams
                # file is [STREAM_TASK] sections with Name + Exec <SQL>
                section = {}
                tree["stream_tasks"].append(section)
            else:
                raise ValueError(f"unknown config section [{m.group(1)}]")
            continue
        if section is None:
            raise ValueError(f"property outside any section: {line!r}")
        parts = line.split(None, 1)
        key = parts[0].lower()
        val = parts[1].strip() if len(parts) > 1 else ""
        val = _env_translate(val, variables)
        if section_kind == "filter" and key in (
                "regex", "exclude", "rule", "parser",
                "condition", "record", "remove_key", "wildcard",
                "int_key", "uint_key", "str_key", "float_key",
                "key_exists", "key_not_exists", "key_val_eq",
                "key_val_is_null", "key_val_is_not_null", "split_rate",
                "label_field", "bucket",
                *_MODIFY_OPS):
            # repeatable FILTER properties (flb accumulates these);
            # "regex" inside a [PARSER] block stays single-valued
            section.setdefault(key, [])
            if not isinstance(section[key], list):
                section[key] = [section[key]]
            section[key].append(val)
        elif section_kind == "parser" and key == "grok_pattern_definition":
            # repeatable [PARSER] property: "NAME REGEX" custom grok
            # library entries (fluentd grok_pattern_definition analogue)
            section.setdefault(key, [])
            section[key].append(val)
        else:
            section[key] = val
    return tree


def parse_yaml(text: str) -> dict[str, Any]:
    """YAML mode (flb_cf_yaml): ``service:`` map + ``pipeline:`` tree.
    Property keys are lowercased for parity with classic mode;
    ``${VAR}`` in string scalars is env-translated (YAML mode has no
    @SET, matching upstream)."""
    import yaml
    doc = yaml.safe_load(text) or {}

    def lower_keys(d: dict) -> dict:
        return {str(k).lower():
                (_env_translate(v, None) if isinstance(v, str)
                 else [_env_translate(x, None) if isinstance(x, str)
                       else x for x in v] if isinstance(v, list) else v)
                for k, v in d.items()}

    pipe = lower_keys(doc.get("pipeline") or {})
    return {
        "service": lower_keys(doc.get("service") or {}),
        "pipeline": {
            "inputs": [lower_keys(s) for s in (pipe.get("inputs") or [])],
            "filters": [lower_keys(s) for s in (pipe.get("filters") or [])],
            "outputs": [lower_keys(s) for s in (pipe.get("outputs") or [])],
        },
        "parsers": [lower_keys(s) for s in (doc.get("parsers") or [])],
        # YAML parity for the classic Streams_File sections: a
        # top-level ``stream_tasks:`` list of {name, exec} maps
        "stream_tasks": [lower_keys(s)
                         for s in (doc.get("stream_tasks") or [])],
    }


# ---------------------------------------------------------------------------
# tree → PipelineSpec
# ---------------------------------------------------------------------------


def parsers_from_tree(tree: dict[str, Any]) -> dict[str, Any]:
    """``[PARSER]`` sections → {name: RegexParser}. Supported formats:
    ``regex`` (pattern + optional ``types``/``time_key``/``time_format``)
    and the shipped syslog presets by name
    (upstream:src/flb_parser.c conf loading; conf/parsers.conf). The
    non-regex formats (json/ltsv/logfmt) have dedicated vectorized
    paths (functions/parsers.py) and no named-parser registration need.
    ``types`` is flb syntax: space-separated ``field:type`` pairs."""
    from ..functions.parsers import RegexParser, syslog_parser
    out: dict[str, Any] = {}
    for p in tree.get("parsers", []):
        name = str(p.get("name", "")).strip()
        if not name:
            raise ValueError("[PARSER] section needs a Name")
        fmt = str(p.get("format", "regex")).lower()
        if fmt == "grok":
            # grok front end (functions/grok.py): Grok_Pattern +
            # repeatable Grok_Pattern_Definition "NAME REGEX" lines.
            from ..functions.grok import compile_grok
            if not p.get("grok_pattern"):
                raise ValueError(
                    f"[PARSER] {name}: Format grok needs Grok_Pattern")
            defs: dict[str, str] = {}
            for line_ in _as_list(p.get("grok_pattern_definition")):
                dname, _, dpat = str(line_).partition(" ")
                if not dpat:
                    raise ValueError(
                        f"[PARSER] {name}: Grok_Pattern_Definition wants "
                        f"'NAME REGEX', got {line_!r}")
                defs[dname] = dpat.strip()
            out[name] = compile_grok(
                str(p["grok_pattern"]), name=name,
                pattern_definitions=defs or None,
                time_key=p.get("time_key"),
                time_format=p.get("time_format"))
            continue
        if fmt != "regex":
            raise ValueError(
                f"[PARSER] {name}: only Format regex maps to a named "
                f"parser here (json/ltsv/logfmt are built-in vectorized "
                f"paths); got {fmt!r}")
        if name in ("syslog-rfc5424", "syslog-rfc3164") \
                and not p.get("regex"):
            out[name] = syslog_parser(name.rsplit("-", 1)[1],
                                      time_format=p.get("time_format"))
            continue
        if not p.get("regex"):
            raise ValueError(f"[PARSER] {name}: Format regex needs Regex")
        types: dict[str, str] = {}
        for pair in str(p.get("types", "")).split():
            k, _, t = pair.partition(":")
            if not t:
                raise ValueError(
                    f"[PARSER] {name}: Types wants 'field:type' pairs, "
                    f"got {pair!r}")
            types[k] = t
        out[name] = RegexParser(
            name=name, pattern=str(p["regex"]), types=types,
            time_key=p.get("time_key"), time_format=p.get("time_format"))
    return out


def spec_from_tree(tree: dict[str, Any],
                   vocab: list[str] | None = None) -> tuple[PipelineSpec,
                                                            dict[str, Any]]:
    """Resolve a parsed config tree to ``(PipelineSpec, io)`` where
    ``io`` carries the non-spec runner inputs the config names:
    ``input_path``, ``input_format``, ``outputs`` (sink names in config
    order)."""
    service = tree.get("service", {})
    keep_decoded = str(service.get("keep_decoded", "always"))
    if keep_decoded not in KEEP_DECODED:
        raise ValueError(f"[SERVICE] keep_decoded must be one of "
                         f"{KEEP_DECODED}, got {keep_decoded!r}")
    pipe = tree.get("pipeline", {})
    inputs = pipe.get("inputs", [])
    if len(inputs) > 1:
        raise ValueError("one [INPUT] per pipeline run (fan-in is a "
                         "union of runs); got %d" % len(inputs))
    inp = inputs[0] if inputs else {}
    inp_name = str(inp.get("name", "")).lower()
    input_format = str(inp.get("format")
                       or ("forward" if inp_name == "forward"
                           else "http" if inp_name == "http"
                           else "syslog" if inp_name == "syslog"
                           else "kafka" if inp_name == "kafka"
                           else "systemd" if inp_name == "systemd"
                           else "text" if inp_name == "tail"
                           and str(inp.get("path", "")).endswith(".log")
                           else "tokens")).lower()
    if input_format not in SOURCES:
        raise ValueError(f"input format must be {'|'.join(SOURCES)}, "
                         f"got {input_format!r}")
    if inp_name == "syslog":
        # upstream:plugins/in_syslog — Mode tcp is the octet-framed
        # stream this file subset captures; udp/unix datagrams have no
        # framing to decode (one message per datagram → a text input)
        mode = str(inp.get("mode", "tcp")).lower()
        if mode != "tcp":
            raise ValueError("[INPUT] syslog file subset supports "
                             "Mode tcp (octet-framed streams); "
                             f"datagram captures are Format text — got "
                             f"Mode {mode!r}")
    # [INPUT] http (sources/http.py — the payload subset of
    # upstream:plugins/in_http): Tag is the listener tag, Tag_Key
    # lifts it from a record field.
    http_input = None
    if input_format == "http":
        http_input = {"tag": str(inp.get("tag", "http.0")),
                      "tag_key": inp.get("tag_key")}

    if vocab is None:
        vp = inp.get("vocab_parquet")
        if vp:
            import pandas as pd
            pdf = pd.read_parquet(vp).sort_values("token_id")
            vocab = pdf["piece"].tolist()
        else:
            from .. import fixtures as fx
            vocab = fx.vocab()

    named_parsers = parsers_from_tree(tree)
    filters: list = []
    metrics_specs: list[dict[str, Any]] = []
    # [INPUT] multiline.parser — the common in_tail posture
    # (upstream:plugins/in_tail: multiline joins at ingestion); the
    # [FILTER] Name multiline form sets the same spec field.
    multiline_parser: str | None = None
    inp_ml = str(inp.get("multiline.parser", "")).strip()
    if inp_ml:
        if inp_ml not in _MULTILINE_PRESETS:
            raise ValueError(
                f"[INPUT] multiline.parser must be one of "
                f"{sorted(_MULTILINE_PRESETS)}, got {inp_ml!r}")
        multiline_parser = inp_ml
    for f in pipe.get("filters", []):
        name = str(f.get("name", "")).lower()
        if name not in FILTERS:
            raise ValueError(
                f"unsupported filter {name!r} (supported: "
                f"{sorted(FILTERS)}; the wider filter surface is "
                f"the Python API — operators/)")
        if FILTERS[name].once and any(n == name for n, _, _ in filters):
            raise ValueError(f"one [FILTER] {name} per pipeline")
        conf, match = FILTERS[name].read(f, named_parsers), filter_match(f)
        check_scope(name, match, conf)
        if name == "multiline":
            if multiline_parser is not None:
                raise ValueError("one [FILTER] multiline per pipeline")
            multiline_parser = conf
        elif name == "log_to_metrics":
            metrics_specs.append(conf)
        else:
            filters.append((name, match, conf))

    routes: list[Route] = []
    sink_format = None
    sink_template = None
    gelf_keys = None
    http_output: dict[str, Any] | None = None
    es_output: dict[str, Any] | None = None
    loki_output: dict[str, Any] | None = None
    kafka_output: dict[str, Any] | None = None

    def _on(o: dict, key: str, default: str = "off") -> bool:
        return str(o.get(key, default)).lower() in ("on", "true", "1")

    for i, o in enumerate(pipe.get("outputs", [])):
        sink = str(o.get("sink") or f"{o.get('name', 'out')}_{i}")
        if o.get("match_regex"):
            routes.append(Route(sink, str(o["match_regex"]), "regex"))
        else:
            routes.append(Route(sink, str(o.get("match", "*")), "glob"))
        nm = str(o.get("name", "")).lower()
        if nm == "es":
            # upstream:plugins/out_es property names; the bulk payload
            # is real (functions/serialize.to_es_bulk), transport
            # scoped out. Logstash_DateFormat arrives as strftime and
            # converts once here.
            from ..functions.parsers import strptime_to_java
            wo = str(o.get("write_operation", "create")).lower()
            if wo not in ("create", "index", "update", "upsert"):
                raise ValueError("[OUTPUT] es Write_Operation must be "
                                 f"create|index|update|upsert, got {wo!r}")
            if _on(o, "logstash_format") and not o.get("ts_key"):
                raise ValueError("[OUTPUT] es Logstash_Format needs a "
                                 "Ts_Key naming the record-time column "
                                 "(the batch analogue of event time)")
            eo = {
                "index": str(o.get("index", "fluent-bit")),
                "logstash_format": _on(o, "logstash_format"),
                "logstash_prefix": str(o.get("logstash_prefix",
                                             "logstash")),
                "logstash_dateformat": strptime_to_java(
                    str(o.get("logstash_dateformat", "%Y.%m.%d"))),
                "time_key": str(o.get("time_key", "@timestamp")),
                "ts_key": o.get("ts_key"),
                "id_key": o.get("id_key"),
                "generate_id": _on(o, "generate_id"),
                "write_operation": wo,
                "batch_records": int(o.get("batch_records", 500)),
                "order_key": o.get("order_key"),
            }
            if es_output is not None and eo != es_output:
                raise ValueError("all es outputs must share one bulk "
                                 "rendering")
            es_output = eo
        elif nm == "loki":
            # upstream:plugins/out_loki: labels (static k=v list),
            # label_keys ($record columns), line_format. Tenant_ID /
            # transport scoped out as connectors.
            labels: dict[str, str] = {}
            for part in str(o.get("labels", "job=fluent-bit")).split(","):
                if not part.strip():
                    continue
                k, eq, v = part.partition("=")
                if not eq:
                    raise ValueError(f"[OUTPUT] loki labels want k=v, "
                                     f"got {part.strip()!r}")
                labels[k.strip()] = v.strip()
            lf = str(o.get("line_format", "json")).lower()
            if lf not in ("json", "key_value"):
                raise ValueError("[OUTPUT] loki Line_Format must be "
                                 f"json|key_value, got {lf!r}")
            lo = {
                "labels": labels,
                "label_keys": [s.strip().lstrip("$") for s in
                               str(o.get("label_keys", "")).split(",")
                               if s.strip()],
                "line_format": lf,
                "ts_key": o.get("ts_key"),
                "order_key": o.get("order_key"),
            }
            if loki_output is not None and lo != loki_output:
                raise ValueError("all loki outputs must share one "
                                 "stream rendering")
            loki_output = lo
        elif nm == "kafka":
            # upstream:plugins/out_kafka property names
            # (Message_Key_Field, Topic_Key, Timestamp_Key); brokers/
            # rdkafka.* are connector config and scoped out. Records
            # render JSON (the default Format json) into RecordBatch
            # v2 segment files (sources/kafka_batches.py).
            kfmt = str(o.get("format", "json")).lower()
            if kfmt != "json":
                raise ValueError("[OUTPUT] kafka Format: only json is "
                                 f"implemented (msgpack payloads ride "
                                 f"the forward sink), got {kfmt!r}")
            ko = {
                "message_key_field": o.get("message_key_field"),
                "topic_key": o.get("topic_key"),
                "ts_key": o.get("ts_key") or o.get("timestamp_key"),
            }
            if kafka_output is not None and ko != kafka_output:
                raise ValueError("all kafka outputs must share one "
                                 "record rendering")
            kafka_output = ko
        fmt = o.get("format")
        if nm in ("es", "loki"):
            fmt = nm  # out_es/out_loki have no Format property
        elif nm == "kafka":
            fmt = "kafka"  # Format json is the record rendering
        elif fmt is None and nm == "http":
            fmt = "json"  # out_http default body format
        if fmt is not None:
            fmt = str(fmt).lower()
            if str(o.get("name", "")).lower() == "http" \
                    and fmt in ("json", "json_lines", "json_stream"):
                # [OUTPUT] name http Format json|json_lines|json_stream
                # (upstream:plugins/out_http) — body rendering rides
                # the http sink format below
                hf, fmt = fmt, "http"
                ho = {"format": hf,
                      "batch_records": int(o.get("batch_records", 100)),
                      "order_key": o.get("order_key"),
                      "ts_key": o.get("ts_key"),
                      "json_date_key": str(o.get("json_date_key",
                                                 "date")),
                      "json_date_format": str(o.get("json_date_format",
                                                    "double"))}
                if http_output is not None and ho != http_output:
                    raise ValueError("all http outputs must share one "
                                     "body rendering (Format/"
                                     "Batch_Records/Json_Date_*)")
                http_output = ho
            if fmt not in SINK_WRITERS:
                raise ValueError(f"output format must be "
                                 f"{'|'.join(SINK_WRITERS)}, got {fmt!r}")
            if sink_format is not None and fmt != sink_format:
                raise ValueError("all outputs must share one format "
                                 "(the fan-out writes one payload shape)")
            sink_format = fmt
        tpl = o.get("template")
        if tpl is not None:
            # upstream:plugins/out_file Format template + Template prop
            if fmt != "template":
                raise ValueError("[OUTPUT] Template needs Format "
                                 "template")
            if sink_template is not None and str(tpl) != sink_template:
                raise ValueError("all outputs must share one Template")
            sink_template = str(tpl)
        # upstream:plugins/out_gelf Gelf_*_Key properties; defaults
        # mirror out_gelf (host/short_message/timestamp, no level)
        gk = {
            "host": str(o.get("gelf_host_key", "host")),
            "message": str(o.get("gelf_short_message_key",
                                 "short_message")),
            "ts": str(o.get("gelf_timestamp_key", "timestamp")),
            "level": (str(o["gelf_level_key"])
                      if o.get("gelf_level_key") else None),
        }
        if any(k.startswith("gelf_") for k in o) and fmt != "gelf":
            raise ValueError("[OUTPUT] Gelf_*_Key needs Format gelf")
        if fmt == "gelf":
            if gelf_keys is not None and gk != gelf_keys:
                raise ValueError("all outputs must share one set of "
                                 "Gelf_*_Key properties")
            gelf_keys = gk
    if sink_format == "template" and sink_template is None:
        raise ValueError("[OUTPUT] Format template needs a Template "
                         "property")
    if not routes:
        raise ValueError("config defines no [OUTPUT] — every record "
                         "would be unrouted")

    spec = PipelineSpec(
        vocab=vocab,
        routes=routes,
        filters=filters,
        tag_expr=inp.get("tag_expr"),
        sink_partition_by=[
            s.strip() for s in
            str(service.get("sink_partition_by", "source")).split(",")
            if s.strip()],
        salt_buckets=int(service.get("salt_buckets", 32)),
        sink_format=sink_format or "parquet",
        sink_template=sink_template,
        gelf_keys=gelf_keys,
        keep_decoded=keep_decoded,
        multiline_parser=multiline_parser,
        metrics_specs=metrics_specs,
        http_input=http_input,
        http_output=http_output,
        es_output=es_output,
        loki_output=loki_output,
        kafka_output=kafka_output,
    )
    io = {
        "input_path": inp.get("path"),
        "input_format": input_format,
        "outputs": [r.sink for r in routes],
        "stream_tasks": stream_tasks(tree),
    }
    return spec, io


def spec_from_config(path: str,
                     vocab: list[str] | None = None
                     ) -> tuple[PipelineSpec, dict[str, Any]]:
    """Load a fluent-bit-style config file: ``.yaml``/``.yml`` → YAML
    mode, anything else → classic mode with @INCLUDE/@SET meta-command
    resolution (flb_cf's dispatch is likewise by extension)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".yaml", ".yml"):
        with open(path) as fh:
            tree = parse_yaml(fh.read())
    else:
        lines, variables = resolve_meta(path)
        tree = parse_classic("\n".join(lines), variables)
    # [SERVICE] Parsers_File — the standard deployment shape keeps
    # [PARSER] blocks in a separate file (upstream:conf/parsers.conf,
    # loaded by flb_parser_conf_file); always classic-mode syntax.
    pfile = tree.get("service", {}).get("parsers_file")
    if pfile:
        ppath = pfile if os.path.isabs(pfile) \
            else os.path.join(os.path.dirname(os.path.abspath(path)), pfile)
        plines, pvars = resolve_meta(ppath)
        ptree = parse_classic("\n".join(plines), pvars)
        tree.setdefault("parsers", []).extend(ptree.get("parsers", []))
    # [SERVICE] Streams_File — the SP SQL deployment shape
    # (upstream:src/stream_processor/flb_sp.c loads [STREAM_TASK]
    # sections with Name + Exec from the service streams_file).
    sfile = tree.get("service", {}).get("streams_file")
    if sfile:
        spath = sfile if os.path.isabs(sfile) \
            else os.path.join(os.path.dirname(os.path.abspath(path)), sfile)
        slines, svars = resolve_meta(spath)
        stree = parse_classic("\n".join(slines), svars)
        tree.setdefault("stream_tasks", []).extend(
            stree.get("stream_tasks", []))
    return spec_from_tree(tree, vocab=vocab)


def stream_tasks(tree: dict[str, Any]) -> list[tuple[str, str]]:
    """(name, exec_sql) pairs from the parsed tree's [STREAM_TASK]
    sections, validated: both properties are required upstream."""
    out = []
    for i, s in enumerate(tree.get("stream_tasks", [])):
        name = s.get("name") or f"task{i}"
        sql = s.get("exec")
        if not sql:
            raise ValueError(f"[STREAM_TASK] {name}: missing Exec")
        out.append((name, sql))
    return out
