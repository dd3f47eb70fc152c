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
  form below).
- ``[FILTER] Name grep`` — ``regex KEY PATTERN`` / ``exclude KEY
  PATTERN`` properties (repeatable, classic flb syntax), ``logical_op``
  (``AND``/``OR``, legacy AND default).
- ``[FILTER] Name rewrite_tag`` — ``rule $KEY REGEX NEW_TAG KEEP``
  (repeatable), exactly upstream:plugins/filter_rewrite_tag syntax.
- ``[FILTER] Name lookup`` — ``file <parquet>`` + ``lookup_key``
  (filter_lookup's CSV becomes a parquet dim; broadcast enrich).
- ``[FILTER] Name parser`` — ``key_name`` + repeatable ``parser`` refs
  (first match wins) resolving against ``[PARSER]`` sections or the
  service ``parsers_file``; adds a typed struct column.
- ``[FILTER] Name modify`` — repeatable ``condition KIND KEY [VALUE]``
  plus ``set/add/remove/remove_wildcard/remove_regex/rename/
  hard_rename/copy/hard_copy`` rules (reserved pipeline columns are
  protected).
- ``[FILTER] Name record_modifier`` — ``Record KEY VALUE`` /
  ``Remove_key KEY`` (repeatable) via the same ModifySpec machinery;
  ``Allowlist_key`` is rejected (append-only column model).
- ``[FILTER] Name nest`` — ``Operation nest`` (repeatable ``Wildcard``
  keys under ``Nest_under``) or ``Operation lift`` (``Nested_under``
  flattened), with ``Add_prefix``/``Remove_prefix`` — applied as output
  shaping (after tag/route, so internal schema references survive).
- ``[FILTER] Name throttle`` — ``Rate``/``Window``/``Interval``
  (upstream:plugins/filter_throttle): at most Rate×Window rows per
  (``Keys``, Window×Interval bucket of ``Ts_key``); without ``Ts_key``
  the batch slice is the window (cap per key per slice). ``Keys``
  defaults to ``tag`` (upstream throttles per-tag instance).
- ``[FILTER] Name type_converter`` — repeatable ``int_key``/
  ``uint_key``/``str_key``/``float_key`` ``SRC DST`` lines
  (upstream:plugins/filter_type_converter); try_cast semantics.
- ``[FILTER] Name sampling`` — engine extension: ``Key`` + ``Rate``
  keep 1-in-Rate rows by deterministic key hash.
- ``[FILTER] Name multiline`` — ``multiline.parser`` preset
  (docker/cri/java/python/go, upstream:plugins/filter_multiline):
  physical lines join into logical events before parsing (text input;
  the runner switches to the ordered wholetext read).
- ``[FILTER] Name log_to_metrics`` — ``metric_mode`` (``counter`` |
  ``gauge`` | ``histogram``), ``metric_name`` (names the side-output
  dir), repeatable ``label_field``, ``value_field``, repeatable
  ``bucket`` boundaries, ``regex``/``exclude`` record pre-filters
  (upstream:plugins/filter_log_to_metrics); each slice writes the
  metric frame under ``metrics_out/<metric_name>/``. ``gauge_mode``
  (``avg``/``min``/``max``/``sum``) replaces upstream's
  arrival-order last-value gauge.
- ``[FILTER] Name script`` (alias ``lua``) — ``script <file.py>`` +
  ``call <fn>``: the filter_lua hook with the engine's vectorized
  runtime (operators/script.py) — ``fn`` maps each Arrow batch
  (``pandas.DataFrame`` → same-schema ``pandas.DataFrame``; rows may
  drop or rewrite). ``.lua`` files are rejected with a porting hint.
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
from ..operators.filters import GrepRule
from ..operators.router import RewriteTagRule, Route
from .pipeline import SINK_WRITERS, SOURCES, ParserFilterSpec, PipelineSpec

_KNOWN_FILTERS = {"grep", "rewrite_tag", "lookup", "parser", "modify",
                  "record_modifier", "nest", "throttle", "type_converter",
                  "sampling", "multiline", "expect", "checklist",
                  "gopher_quality", "stratified_split", "log_to_metrics",
                  "script", "lua"}

_MULTILINE_PRESETS = {"docker", "cri", "java", "python", "go"}

# filter_modify rule ops (upstream:plugins/filter_modify) — all
# repeatable config keys; condition kinds are validated by
# operators/modify.condition_predicate at plan time.
_MODIFY_OPS = ("set", "add", "remove", "remove_wildcard", "remove_regex",
               "rename", "hard_rename", "copy", "hard_copy")

# Columns the pipeline contract depends on: the token-equality
# invariant (tokens ride untouched), routing inputs, and DLQ
# accounting. Config-driven modify may read them (copy source) but
# never redefine or drop them.
_RESERVED_COLS = {"doc_id", "tokens", "n_tok", "source", "decoded",
                  "fields", "parse_ok", "tag", "sinks", "dlq_reason"}

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


def _as_list(v) -> list[str]:
    if v is None:
        return []
    return [str(x) for x in v] if isinstance(v, list) else [str(v)]


def _parse_rewrite_rule(rule: str) -> RewriteTagRule:
    """``$KEY REGEX NEW_TAG KEEP`` (upstream:plugins/filter_rewrite_tag
    — exactly four space-separated fields, KEY is a record accessor)."""
    parts = rule.split()
    if len(parts) != 4:
        raise ValueError(
            f"rewrite_tag rule needs 4 fields '$KEY REGEX NEW_TAG KEEP', "
            f"got {rule!r}")
    key, pattern, new_tag, keep = parts
    if key.startswith("$"):
        key = key[1:]
    return RewriteTagRule(key=key, pattern=pattern, new_tag=new_tag,
                          keep=keep.lower() in ("true", "on", "1", "yes"))


def _flb_interval(val: str) -> tuple[str, int]:
    """flb throttle ``Interval`` (``1s``/``5m``/``1h``, or a bare number
    of seconds) → (Spark interval string, seconds). Spark-style strings
    like ``1 minute`` pass through."""
    v = str(val).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([smh]?)", v)
    if not m:
        # already a Spark interval string ("1 minute")
        m2 = re.fullmatch(r"(\d+)\s+(second|minute|hour)s?", v)
        if not m2:
            raise ValueError(f"throttle Interval wants Ns|Nm|Nh or a "
                             f"Spark interval, got {val!r}")
        n, unit = int(m2.group(1)), m2.group(2)
        secs = n * {"second": 1, "minute": 60, "hour": 3600}[unit]
        return f"{n} {unit}s", secs
    n = int(m.group(1))
    unit = m.group(2) or "s"
    secs = n * {"s": 1, "m": 60, "h": 3600}[unit]
    return f"{secs} seconds", secs


def _parse_grep_prop(val: str, exclude: bool) -> GrepRule:
    """``KEY PATTERN`` — pattern may itself contain spaces (flb splits
    on the first blank only)."""
    parts = val.split(None, 1)
    if len(parts) != 2:
        raise ValueError(f"grep rule needs 'KEY PATTERN', got {val!r}")
    return GrepRule(key=parts[0], pattern=parts[1], exclude=exclude)


def _parse_modify_filter(f: dict[str, Any]):
    """``[FILTER] Name modify`` → ModifySpec: ``Condition KIND KEY
    [VALUE]`` lines (all must hold, upstream:plugins/filter_modify) plus
    rule lines ``Set/Add/Rename/... KEY [VALUE]`` applied in config
    order. Structural or value ops may not target the pipeline's
    reserved columns (the token-equality invariant and routing inputs);
    Copy/Hard_copy may READ them."""
    from ..operators.modify import Condition, ModifyRule, ModifySpec
    conditions = []
    for c in _as_list(f.get("condition")):
        parts = c.split(None, 2)
        if len(parts) < 2:
            raise ValueError(f"Condition wants 'KIND KEY [VALUE]', "
                             f"got {c!r}")
        conditions.append(Condition(
            kind=parts[0].lower(), key=parts[1],
            value=parts[2] if len(parts) > 2 else ""))
    rules = []
    for op in _MODIFY_OPS:
        for v in _as_list(f.get(op)):
            parts = v.split(None, 1)
            key = parts[0]
            value = parts[1].strip() if len(parts) > 1 else ""
            two_arg = op in ("set", "add", "rename", "hard_rename",
                             "copy", "hard_copy")
            if two_arg and not value:
                raise ValueError(f"{op} wants 'KEY VALUE', got {v!r}")
            target = value if op in ("copy", "hard_copy") else key
            if target in _RESERVED_COLS or (
                    op in ("rename", "hard_rename")
                    and value in _RESERVED_COLS):
                raise ValueError(
                    f"modify {op} may not target reserved column "
                    f"{target!r} (pipeline contract: "
                    f"{sorted(_RESERVED_COLS)})")
            if op == "remove_wildcard" and any(
                    r.startswith(key) for r in _RESERVED_COLS):
                raise ValueError(
                    f"remove_wildcard {key!r} would drop reserved "
                    f"column(s)")
            if op == "remove_regex" and any(
                    re.search(key, r) for r in _RESERVED_COLS):
                raise ValueError(
                    f"remove_regex {key!r} would drop reserved "
                    f"column(s)")
            rules.append(ModifyRule(op=op, key=key, value=value))
    if not rules:
        raise ValueError("[FILTER] modify defines no rules")
    return ModifySpec(conditions=conditions, rules=rules)


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
    grep_rules: list[GrepRule] = []
    grep_op = "AND"
    rewrite_rules: list[RewriteTagRule] = []
    parser_filters: list[ParserFilterSpec] = []
    modify_specs: list = []
    nest_ops: list = []
    type_conversions: list[tuple[str, str, str]] = []
    sample_spec: tuple[str, int] | None = None
    throttle_specs: list[dict[str, Any]] = []
    expect_specs: list[dict[str, Any]] = []
    checklist_specs: list[dict[str, Any]] = []
    gopher_spec: dict[str, Any] | None = None
    split_spec: dict[str, Any] | None = None
    metrics_specs: list[dict[str, Any]] = []
    script_specs: list[dict[str, Any]] = []
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
    lookup_path: str | None = None
    lookup_key = "source"
    lookup_ttl: float | None = None
    for f in pipe.get("filters", []):
        name = str(f.get("name", "")).lower()
        if name not in _KNOWN_FILTERS:
            raise ValueError(
                f"unsupported filter {name!r} (supported: "
                f"{sorted(_KNOWN_FILTERS)}; the wider filter surface is "
                f"the Python API — operators/)")
        if name == "grep":
            for v in _as_list(f.get("regex")):
                grep_rules.append(_parse_grep_prop(v, exclude=False))
            for v in _as_list(f.get("exclude")):
                grep_rules.append(_parse_grep_prop(v, exclude=True))
            grep_op = str(f.get("logical_op", grep_op)).upper()
        elif name == "rewrite_tag":
            for v in _as_list(f.get("rule")):
                rewrite_rules.append(_parse_rewrite_rule(v))
        elif name == "lookup":
            lookup_path = f.get("file") or f.get("path")
            lookup_key = str(f.get("lookup_key", lookup_key))
            if f.get("cache_ttl") is not None:
                # TTL-cached pinned dim snapshot (DimCache — the
                # filter_kubernetes Kube_Meta_Cache_TTL posture)
                lookup_ttl = float(f["cache_ttl"])
        elif name == "parser":
            # upstream:plugins/filter_parser — Key_Name + Parser
            # (repeatable, first match wins). Reserve_Data Off is
            # rejected: this engine adds a struct column and never
            # destroys the record body.
            refs = _as_list(f.get("parser"))
            if not refs:
                raise ValueError("[FILTER] parser needs >=1 Parser ref")
            missing = [r for r in refs if r not in named_parsers]
            if missing:
                raise ValueError(
                    f"[FILTER] parser references unknown parser(s) "
                    f"{missing}; define them in [PARSER] sections or "
                    f"the service Parsers_File")
            if str(f.get("reserve_data", "on")).lower() in ("off",
                                                            "false", "0"):
                raise ValueError(
                    "[FILTER] parser Reserve_Data Off is unsupported: "
                    "parsed fields land in a new struct column and the "
                    "source column always survives")
            parser_filters.append(ParserFilterSpec(
                key=str(f.get("key_name", "decoded")),
                parsers=[named_parsers[r] for r in refs],
                out=str(f.get("out", f"parsed_{refs[0]}"))))
        elif name == "modify":
            modify_specs.append(_parse_modify_filter(f))
        elif name == "record_modifier":
            # upstream:plugins/filter_record_modifier — Record K V adds
            # a static field; Remove_key drops one. Both are the modify
            # ops in disguise, so they reuse ModifySpec (same reserved-
            # column protection). Allowlist_key (keep-only) conflicts
            # with the engine's append-only column model — rejected
            # loudly rather than half-honored.
            if f.get("allowlist_key") or f.get("whitelist_key"):
                raise ValueError(
                    "[FILTER] record_modifier Allowlist_key is "
                    "unsupported: pipeline columns are append-only "
                    "(project in the sink instead)")
            from ..operators.modify import ModifyRule, ModifySpec
            rules = []
            for v in _as_list(f.get("record")):
                parts = v.split(None, 1)
                if len(parts) != 2:
                    raise ValueError(
                        f"[FILTER] record_modifier Record needs "
                        f"'KEY VALUE': {v!r}")
                rules.append(ModifyRule("set", parts[0], parts[1]))
            for v in _as_list(f.get("remove_key")):
                rules.append(ModifyRule("remove", v.strip()))
            if not rules:
                raise ValueError("[FILTER] record_modifier: no Record/"
                                 "Remove_key properties")
            modify_specs.append(ModifySpec(rules=rules))
        elif name == "nest":
            # upstream:plugins/filter_nest — Operation nest (gather
            # Wildcard keys under Nest_under) or lift (flatten
            # Nested_under), with Add_prefix/Remove_prefix.
            op = str(f.get("operation", "")).lower()
            if op == "nest":
                # Wildcard is repeatable upstream — honor every pattern
                wildcards = _as_list(f.get("wildcard"))
                if not wildcards or not f.get("nest_under"):
                    raise ValueError("[FILTER] nest Operation nest "
                                     "needs Wildcard + Nest_under")
                nest_ops.append(("nest", {
                    "wildcard": wildcards,
                    "nest_under": str(f["nest_under"]),
                    "remove_prefix": str(f.get("remove_prefix", "")),
                    "add_prefix": str(f.get("add_prefix", ""))}))
            elif op == "lift":
                if not f.get("nested_under"):
                    raise ValueError("[FILTER] nest Operation lift "
                                     "needs Nested_under")
                nest_ops.append(("lift", {
                    "nested_under": str(f["nested_under"]),
                    "add_prefix": str(f.get("add_prefix", ""))}))
            else:
                raise ValueError(
                    f"[FILTER] nest Operation must be nest|lift, "
                    f"got {op!r}")
        elif name == "type_converter":
            # upstream:plugins/filter_type_converter — repeatable
            # ``<T>_key SRC DST`` lines (int_key/uint_key/str_key/
            # float_key). try_cast semantics: a bad value nulls the
            # converted field, the record survives.
            kinds = (("int_key", "int"), ("uint_key", "int"),
                     ("str_key", "string"), ("float_key", "float"))
            n_before = len(type_conversions)
            for prop, typ in kinds:
                for v in _as_list(f.get(prop)):
                    parts = v.split()
                    if len(parts) != 2:
                        raise ValueError(
                            f"[FILTER] type_converter {prop} wants "
                            f"'SRC DST', got {v!r}")
                    src, dst = parts
                    if dst in _RESERVED_COLS:
                        raise ValueError(
                            f"type_converter may not overwrite reserved "
                            f"column {dst!r}")
                    type_conversions.append((src, dst, typ))
            if len(type_conversions) == n_before:
                raise ValueError("[FILTER] type_converter defines no "
                                 "<T>_key conversions")
        elif name == "sampling":
            # engine extension (operators/filters.deterministic_sample):
            # keep 1-in-Rate rows by key hash — reproducible across
            # runs/partitionings, unlike Bernoulli sampling.
            if sample_spec is not None:
                raise ValueError("one [FILTER] sampling per pipeline")
            rate = int(f.get("rate", 0))
            if rate < 1:
                raise ValueError("[FILTER] sampling needs Rate >= 1")
            sample_spec = (str(f.get("key", "doc_id")), rate)
        elif name == "multiline":
            # upstream:plugins/filter_multiline — multiline.parser names
            # a built-in preset; physical lines join into logical events
            # before parsing (text input only; needs the ordered read,
            # handled by the runner). multiline.key_content must be the
            # decoded line — the engine joins the record body, custom
            # content keys have no batch meaning here.
            preset = str(f.get("multiline.parser", "")).strip()
            if preset not in _MULTILINE_PRESETS:
                raise ValueError(
                    f"[FILTER] multiline needs multiline.parser in "
                    f"{sorted(_MULTILINE_PRESETS)}, got {preset!r}")
            kc = str(f.get("multiline.key_content", "decoded"))
            if kc not in ("decoded", "log"):
                raise ValueError(
                    f"[FILTER] multiline key_content must be the record "
                    f"body (decoded/log), got {kc!r}")
            if multiline_parser is not None:
                raise ValueError("one [FILTER] multiline per pipeline")
            multiline_parser = preset
        elif name == "throttle":
            # upstream:plugins/filter_throttle — Rate msgs per Interval
            # averaged over Window panes. Batch analogue: at most
            # Rate×Window rows per (keys, Window×Interval bucket of
            # Ts_key), kept in stable order; without Ts_key the slice
            # itself is the window (cap per key per slice).
            if not f.get("rate"):
                raise ValueError("[FILTER] throttle needs Rate")
            rate = int(f["rate"])
            window = int(f.get("window", 5))
            ts_key = f.get("ts_key") or None
            spec_d: dict[str, Any] = {
                "rate": rate * window,
                "keys": [s.strip() for s in
                         str(f.get("keys", "tag")).split(",") if s.strip()],
                "ts_key": ts_key,
            }
            if ts_key:
                _, secs = _flb_interval(f.get("interval", "1s"))
                spec_d["interval"] = f"{secs * window} seconds"
            throttle_specs.append(spec_d)
        elif name == "expect":
            # upstream:plugins/filter_expect — repeatable rule
            # properties AND together; action exit (abort) | warn /
            # result_key (stamp a boolean). In this engine's flat
            # columnar record a missing key IS a null column, so
            # key_exists ≡ IS NOT NULL (dotted keys reach into the
            # fields struct).
            conds: list[str] = []
            for k in _as_list(f.get("key_exists")):
                conds.append(f"({k}) IS NOT NULL")
            for k in _as_list(f.get("key_not_exists")):
                conds.append(f"({k}) IS NULL")
            for k in _as_list(f.get("key_val_is_null")):
                conds.append(f"({k}) IS NULL")
            for k in _as_list(f.get("key_val_is_not_null")):
                conds.append(f"({k}) IS NOT NULL")
            for v in _as_list(f.get("key_val_eq")):
                parts = v.split(None, 1)
                if len(parts) != 2:
                    raise ValueError(
                        f"[FILTER] expect key_val_eq wants 'KEY VALUE', "
                        f"got {v!r}")
                k, val = parts
                conds.append(f"CAST(({k}) AS STRING) = '{val}'")
            if not conds:
                raise ValueError("[FILTER] expect defines no rules")
            action = str(f.get("action", "exit")).lower()
            if action not in ("exit", "warn", "result_key"):
                raise ValueError(
                    f"[FILTER] expect action must be exit|warn|"
                    f"result_key, got {action!r}")
            expect_specs.append({
                "cond": " AND ".join(conds),
                "action": action,
                "result_key": str(f.get("result_key", "_expect_ok")),
            })
        elif name == "checklist":
            # upstream:plugins/filter_checklist — File of values (one
            # per line, or a parquet with a 'value' column), Lookup_key,
            # repeatable ``Record KEY VALUE`` sets on match, Ignore_case.
            # Upstream's Mode partial (substring match) is not
            # implemented — broadcast hash lookup is exact by design;
            # ``Action keep|drop`` are the semi/anti-join extensions.
            if not f.get("file"):
                raise ValueError("[FILTER] checklist needs File")
            mode = str(f.get("mode", "exact")).lower()
            if mode != "exact":
                raise ValueError(
                    "[FILTER] checklist supports Mode exact only "
                    "(partial-match lists need a different join shape)")
            action = str(f.get("action", "flag")).lower()
            if action not in ("flag", "keep", "drop"):
                raise ValueError(
                    f"[FILTER] checklist Action must be flag|keep|drop, "
                    f"got {action!r}")
            sets = []
            for v in _as_list(f.get("record")):
                parts = v.split(None, 1)
                if len(parts) != 2:
                    raise ValueError(
                        f"[FILTER] checklist Record wants 'KEY VALUE', "
                        f"got {v!r}")
                sets.append((parts[0], parts[1]))
            if sets and action != "flag":
                raise ValueError("[FILTER] checklist Record sets only "
                                 "apply with Action flag")
            checklist_specs.append({
                "path": str(f["file"]),
                "lookup_key": str(f.get("lookup_key", "source")),
                "action": action,
                "ignore_case": str(f.get("ignore_case", "off")).lower()
                               in ("on", "true", "1"),
                "sets": sets,
            })
        elif name == "gopher_quality":
            # engine extension (functions/text.py gopher_filter):
            # integer-exact composite quality gate. Action flag stamps
            # gq_reasons/gq_keep; Action drop filters failures out.
            if gopher_spec is not None:
                raise ValueError("one [FILTER] gopher_quality per "
                                 "pipeline")
            action = str(f.get("action", "flag")).lower()
            if action not in ("flag", "drop"):
                raise ValueError(f"[FILTER] gopher_quality Action must "
                                 f"be flag|drop, got {action!r}")
            pct = int(f.get("min_distinct_pct", 50))
            if not 0 <= pct <= 100:
                raise ValueError("[FILTER] gopher_quality "
                                 "Min_distinct_pct wants 0..100")
            gopher_spec = {
                "key": str(f.get("key", "text")),
                "action": action,
                "thresholds": {
                    "min_words": int(f.get("min_words", 30)),
                    "min_mean_len_x1": int(f.get("min_mean_len", 4)),
                    "max_mean_len_x1": int(f.get("max_mean_len", 10)),
                    "min_distinct_num": pct,
                    "min_distinct_den": 100,
                    "max_word_len": int(f.get("max_word_len", 7)),
                },
            }
        elif name == "log_to_metrics":
            # upstream:plugins/filter_log_to_metrics — metric_mode /
            # metric_name / label_field (repeatable) / value_field /
            # bucket (repeatable boundary) plus regex/exclude record
            # pre-filters. gauge_mode is an engine extension: upstream's
            # gauge is last-value over arrival order, which a batch has
            # none of — the reduction is explicit (default avg).
            mode = str(f.get("metric_mode", "counter")).lower()
            if mode not in ("counter", "gauge", "histogram"):
                raise ValueError(
                    f"[FILTER] log_to_metrics metric_mode must be "
                    f"counter|gauge|histogram, got {mode!r}")
            mname = f.get("metric_name")
            if not mname:
                raise ValueError("[FILTER] log_to_metrics needs "
                                 "metric_name (it names the side "
                                 "output directory)")
            buckets: list[float] = []
            for v in _as_list(f.get("bucket")):
                try:
                    buckets.append(float(v))
                except ValueError:
                    raise ValueError(
                        f"[FILTER] log_to_metrics bucket wants a "
                        f"float boundary, got {v!r}") from None
            mgrep: list[GrepRule] = []
            for v in _as_list(f.get("regex")):
                mgrep.append(_parse_grep_prop(v, exclude=False))
            for v in _as_list(f.get("exclude")):
                mgrep.append(_parse_grep_prop(v, exclude=True))
            if mode in ("gauge", "histogram") and not f.get("value_field"):
                raise ValueError(f"[FILTER] log_to_metrics {mode} "
                                 f"needs value_field")
            if mode == "histogram" and not buckets:
                raise ValueError("[FILTER] log_to_metrics histogram "
                                 "needs at least one bucket line")
            metrics_specs.append({
                "name": str(mname),
                "mode": mode,
                "labels": _as_list(f.get("label_field")),
                "value_field": f.get("value_field"),
                "buckets": buckets or None,
                "gauge_mode": str(f.get("gauge_mode", "avg")).lower(),
                "grep_rules": mgrep,
                "description": f.get("metric_description"),
            })
        elif name in ("script", "lua"):
            # the [FILTER] lua surface (upstream:plugins/filter_lua:
            # script + call) with the engine's vectorized runtime
            # (operators/script.py): Call names a batch function
            # (pandas.DataFrame -> pandas.DataFrame, schema preserved)
            # in the Python file at Script. A .lua script cannot run
            # here — the error says what to hand the engine instead.
            spath = f.get("script")
            if not spath:
                raise ValueError(f"[FILTER] {name} needs a Script "
                                 f"property (path to a .py file)")
            if str(spath).endswith(".lua"):
                raise ValueError(
                    "[FILTER] lua: no Lua runtime in this engine — "
                    "port the script to a Python batch function "
                    "(pandas.DataFrame -> pandas.DataFrame) and point "
                    "Script at the .py file; Call still names the "
                    "function")
            script_specs.append({
                "path": str(spath),
                "call": str(f.get("call", "cb_filter")),
            })
        elif name == "stratified_split":
            # engine extension (operators/filters.stratified_split):
            # deterministic per-group eval holdout; repeatable
            # ``Split_rate GROUP PERMILLE`` lines set per-group rates.
            if split_spec is not None:
                raise ValueError("one [FILTER] stratified_split per "
                                 "pipeline")
            rates: dict[str, int] = {}
            for v in _as_list(f.get("split_rate")):
                parts = v.split()
                if len(parts) != 2 or not parts[1].lstrip("-").isdigit():
                    raise ValueError(
                        f"[FILTER] stratified_split Split_rate wants "
                        f"'GROUP PERMILLE', got {v!r}")
                rates[parts[0]] = int(parts[1])
            default = int(f.get("default_rate", 0))
            for bad in [*rates.values(), default]:
                if not 0 <= bad <= 1000:
                    raise ValueError("[FILTER] stratified_split rates "
                                     "want 0..1000 permille")
            split_spec = {
                "group_key": str(f.get("group_key", "source")),
                "hash_key": str(f.get("hash_key", "doc_id")),
                "rates": rates,
                "default_permille": default,
            }

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
        grep_rules=grep_rules,
        grep_op=grep_op,
        rewrite_rules=rewrite_rules,
        lookup_path=lookup_path,
        lookup_key=lookup_key,
        lookup_ttl=lookup_ttl,
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
        parser_filters=parser_filters,
        modify_specs=modify_specs,
        nest_ops=nest_ops,
        type_conversions=type_conversions,
        sample_spec=sample_spec,
        throttle_specs=throttle_specs,
        multiline_parser=multiline_parser,
        expect_specs=expect_specs,
        checklist_specs=checklist_specs,
        gopher_spec=gopher_spec,
        split_spec=split_spec,
        metrics_specs=metrics_specs,
        script_specs=script_specs,
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
