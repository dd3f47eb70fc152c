"""One table of filter plugins: ``FILTERS`` maps each ``[FILTER]`` name
to its property reader and its stage, as ``SOURCES`` and
``SINK_WRITERS`` (plans/pipeline.py) do for input and sink formats. A
spec's ``filters`` are ``(name, match, conf)`` entries in config order;
``match`` is a Route (glob, or regex for ``Match_Regex``), or None for
``Match *`` and no Match, which adds nothing to the plan. The config
semantics are in plans/config.py's docstring.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parsers import apply_regex_parser, parse_first_match
from ..operators.enrich import checklist_flag, dim_cache_for, lookup_join
from ..operators.filters import (GrepRule, expect, grep_predicate,
                                 sample_predicate, stratified_split,
                                 type_convert)
from ..operators.modify import Condition, ModifyRule, ModifySpec, \
    apply_modify
from ..operators.nest import lift, nest
from ..operators.router import RewriteTagRule, Route, apply_rewrite_tag, \
    match_predicate
from ..operators.script import filter_map_batches
from ..operators.throttle import throttle

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


def _flb_interval(val: str) -> int:
    """flb throttle ``Interval`` (``1s``/``5m``/``1h``, a bare number of
    seconds, or a Spark-style ``1 minute``) → seconds."""
    v = str(val).strip().lower()
    m = (re.fullmatch(r"(\d+)\s*([smh]?)", v)
         or re.fullmatch(r"(\d+)\s+(second|minute|hour)s?", v))
    if not m:
        raise ValueError(f"throttle Interval wants Ns|Nm|Nh or a "
                         f"Spark interval, got {val!r}")
    return int(m.group(1)) * {"": 1, "s": 1, "second": 1, "m": 60,
                              "minute": 60, "h": 3600, "hour": 3600}[
                                  m.group(2)]


def _pair(val: str, error: str) -> tuple[str, str]:
    """``KEY VALUE`` — the value may itself contain spaces (flb splits
    on the first blank only); ``error`` names the form on failure."""
    parts = val.split(None, 1)
    if len(parts) != 2:
        raise ValueError(error.format(val=val))
    return parts[0], parts[1]


def _grep_rules(f: dict[str, Any]) -> list[GrepRule]:
    bad = "grep rule needs 'KEY PATTERN', got {val!r}"
    return [GrepRule(*_pair(v, bad), exclude=prop == "exclude")
            for prop in ("regex", "exclude") for v in _as_list(f.get(prop))]


def _read_grep(f, parsers):
    """``regex KEY PATTERN`` / ``exclude KEY PATTERN`` (repeatable,
    classic flb syntax), ``logical_op`` (``AND``/``OR``, legacy AND
    default) over the block's own rules; blocks AND one after another."""
    return _grep_rules(f), str(f.get("logical_op", "AND")).upper()


def _read_rewrite_tag(f, parsers):
    """``rule $KEY REGEX NEW_TAG KEEP`` (repeatable), exactly
    upstream:plugins/filter_rewrite_tag syntax."""
    return [_parse_rewrite_rule(v) for v in _as_list(f.get("rule"))]


def lookup_filter(path: str) -> tuple:
    """A ``Match *`` entry joining the parquet dim at ``path`` on source."""
    return "lookup", None, {"path": path, "key": "source", "ttl": None}


def _read_lookup(f, parsers):
    """``file <parquet>`` + ``lookup_key`` (filter_lookup's CSV becomes
    a parquet dim; broadcast enrich). ``cache_ttl`` resolves the dim
    through a TTL-cached pinned snapshot (DimCache — the
    filter_kubernetes Kube_Meta_Cache_TTL posture)."""
    path = f.get("file") or f.get("path")
    if not path:
        raise ValueError("[FILTER] lookup needs a File (or Path) property: "
                         "the parquet dim to join")
    ttl = f.get("cache_ttl")
    return {"path": path,
            "key": str(f.get("lookup_key", "source")),
            "ttl": None if ttl is None else float(ttl)}


@dataclass
class ParserFilterSpec:
    """One ``[FILTER] Name parser`` block: re-parse column ``key`` with
    a first-match chain of named parsers into struct column ``out``."""

    key: str
    parsers: list                           # list[RegexParser]
    out: str = "parsed"


def _read_parser(f, parsers):
    """upstream:plugins/filter_parser — ``key_name`` + repeatable
    ``parser`` refs (first match wins) resolving against ``[PARSER]``
    sections or the service ``parsers_file``; adds a typed struct
    column. Reserve_Data Off is rejected: the record body survives."""
    refs = _as_list(f.get("parser"))
    if not refs:
        raise ValueError("[FILTER] parser needs >=1 Parser ref")
    missing = [r for r in refs if r not in parsers]
    if missing:
        raise ValueError(
            f"[FILTER] parser references unknown parser(s) {missing}; "
            f"define them in [PARSER] sections or the service "
            f"Parsers_File")
    if str(f.get("reserve_data", "on")).lower() in ("off", "false", "0"):
        raise ValueError(
            "[FILTER] parser Reserve_Data Off is unsupported: parsed "
            "fields land in a new struct column and the source column "
            "always survives")
    return ParserFilterSpec(key=str(f.get("key_name", "decoded")),
                            parsers=[parsers[r] for r in refs],
                            out=str(f.get("out", f"parsed_{refs[0]}")))


def _check_target(op: str, target: str) -> None:
    if target in _RESERVED_COLS:
        raise ValueError(
            f"modify {op} may not target reserved column {target!r} "
            f"(pipeline contract: {sorted(_RESERVED_COLS)})")


def _read_modify(f, parsers):
    """upstream:plugins/filter_modify — ``Condition KIND KEY [VALUE]``
    lines (all must hold) plus ``Set/Add/Rename/... KEY [VALUE]`` rules
    in config order. No rule may write the reserved columns;
    Copy/Hard_copy may READ them."""
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
            _check_target(op, target)
            if op in ("rename", "hard_rename"):
                _check_target(op, value)
            if op == "remove_wildcard" and any(
                    r.startswith(key) for r in _RESERVED_COLS):
                raise ValueError(f"remove_wildcard {key!r} would drop "
                                 f"reserved column(s)")
            if op == "remove_regex" and any(
                    re.search(key, r) for r in _RESERVED_COLS):
                raise ValueError(f"remove_regex {key!r} would drop "
                                 f"reserved column(s)")
            rules.append(ModifyRule(op=op, key=key, value=value))
    if not rules:
        raise ValueError("[FILTER] modify defines no rules")
    return ModifySpec(conditions=conditions, rules=rules)


def _read_record_modifier(f, parsers):
    """upstream:plugins/filter_record_modifier — ``Record KEY VALUE``
    adds a static field, ``Remove_key KEY`` drops one (repeatable), via
    ModifySpec; as in modify, neither may target a reserved column.
    ``Allowlist_key`` (keep-only) conflicts with the append-only column
    model — rejected loudly rather than half-honored."""
    if f.get("allowlist_key") or f.get("whitelist_key"):
        raise ValueError(
            "[FILTER] record_modifier Allowlist_key is unsupported: "
            "pipeline columns are append-only (project in the sink "
            "instead)")
    rules = []
    for v in _as_list(f.get("record")):
        rules.append(ModifyRule("set", *_pair(
            v, "[FILTER] record_modifier Record needs 'KEY VALUE': "
               "{val!r}")))
    for v in _as_list(f.get("remove_key")):
        rules.append(ModifyRule("remove", v.strip()))
    for r in rules:
        _check_target(r.op, r.key)
    if not rules:
        raise ValueError("[FILTER] record_modifier: no Record/"
                         "Remove_key properties")
    return ModifySpec(rules=rules)


def _read_nest(f, parsers):
    """upstream:plugins/filter_nest — ``Operation nest`` (repeatable
    ``Wildcard`` keys under ``Nest_under``) or ``Operation lift``
    (``Nested_under`` flattened), with ``Add_prefix``/
    ``Remove_prefix``."""
    op = str(f.get("operation", "")).lower()
    if op == "nest":
        # Wildcard is repeatable upstream — honor every pattern
        wildcards = _as_list(f.get("wildcard"))
        if not wildcards or not f.get("nest_under"):
            raise ValueError("[FILTER] nest Operation nest "
                             "needs Wildcard + Nest_under")
        return ("nest", {"wildcard": wildcards,
                         "nest_under": str(f["nest_under"]),
                         "remove_prefix": str(f.get("remove_prefix", "")),
                         "add_prefix": str(f.get("add_prefix", ""))})
    if op == "lift":
        if not f.get("nested_under"):
            raise ValueError("[FILTER] nest Operation lift "
                             "needs Nested_under")
        return ("lift", {"nested_under": str(f["nested_under"]),
                         "add_prefix": str(f.get("add_prefix", ""))})
    raise ValueError(
        f"[FILTER] nest Operation must be nest|lift, got {op!r}")


def _read_type_converter(f, parsers):
    """upstream:plugins/filter_type_converter — repeatable ``<T>_key SRC
    DST`` lines (int_key/uint_key/str_key/float_key). try_cast: a bad
    value nulls the converted field, the record survives."""
    kinds = (("int_key", "int"), ("uint_key", "int"),
             ("str_key", "string"), ("float_key", "float"))
    conversions = []
    for prop, typ in kinds:
        for v in _as_list(f.get(prop)):
            parts = v.split()
            if len(parts) != 2:
                raise ValueError(f"[FILTER] type_converter {prop} wants "
                                 f"'SRC DST', got {v!r}")
            src, dst = parts
            if dst in _RESERVED_COLS:
                raise ValueError(f"type_converter may not overwrite "
                                 f"reserved column {dst!r}")
            conversions.append((src, dst, typ))
    if not conversions:
        raise ValueError("[FILTER] type_converter defines no "
                         "<T>_key conversions")
    return conversions


def _read_sampling(f, parsers):
    """Engine extension: ``Key`` + ``Rate`` keep 1-in-Rate rows by key
    hash — reproducible across runs and partitionings, unlike Bernoulli
    sampling (operators/filters.deterministic_sample)."""
    rate = int(f.get("rate", 0))
    if rate < 1:
        raise ValueError("[FILTER] sampling needs Rate >= 1")
    return str(f.get("key", "doc_id")), rate


def _read_multiline(f, parsers):
    """upstream:plugins/filter_multiline — ``multiline.parser`` preset
    (docker/cri/java/python/go): physical lines join into logical events
    before parsing (text input; the runner switches to the ordered
    wholetext read). ``multiline.key_content`` must be the record body."""
    preset = str(f.get("multiline.parser", "")).strip()
    if preset not in _MULTILINE_PRESETS:
        raise ValueError(
            f"[FILTER] multiline needs multiline.parser in "
            f"{sorted(_MULTILINE_PRESETS)}, got {preset!r}")
    kc = str(f.get("multiline.key_content", "decoded"))
    if kc not in ("decoded", "log"):
        raise ValueError(f"[FILTER] multiline key_content must be the "
                         f"record body (decoded/log), got {kc!r}")
    return preset


def _read_throttle(f, parsers):
    """upstream:plugins/filter_throttle — ``Rate``/``Window``/
    ``Interval``: at most Rate×Window rows per (``Keys``, Window×Interval
    bucket of ``Ts_key``), kept in stable order; without ``Ts_key`` the
    slice is the window. ``Keys`` defaults to ``tag`` (upstream
    throttles per-tag instance)."""
    if not f.get("rate"):
        raise ValueError("[FILTER] throttle needs Rate")
    window = int(f.get("window", 5))
    ts_key = f.get("ts_key") or None
    spec_d: dict[str, Any] = {
        "rate": int(f["rate"]) * window,
        "keys": [s.strip() for s in str(f.get("keys", "tag")).split(",")
                 if s.strip()],
        "ts_key": ts_key,
    }
    if ts_key:
        secs = _flb_interval(f.get("interval", "1s")) * window
        spec_d["interval"] = f"{secs} seconds"
    return spec_d


def _read_expect(f, parsers):
    """upstream:plugins/filter_expect — repeatable rule properties AND
    together; ``action`` exit (abort) | warn / result_key (stamp a
    boolean). A missing key IS a null column here, so key_exists ≡ IS
    NOT NULL (dotted keys reach into the fields struct)."""
    conds = [f"({k}) IS NOT NULL" for k in _as_list(f.get("key_exists"))]
    conds += [f"({k}) IS NULL" for k in _as_list(f.get("key_not_exists"))]
    conds += [f"({k}) IS NULL" for k in _as_list(f.get("key_val_is_null"))]
    conds += [f"({k}) IS NOT NULL"
              for k in _as_list(f.get("key_val_is_not_null"))]
    for v in _as_list(f.get("key_val_eq")):
        k, val = _pair(v, "[FILTER] expect key_val_eq wants 'KEY VALUE', "
                          "got {val!r}")
        conds.append(f"CAST(({k}) AS STRING) = '{val}'")
    if not conds:
        raise ValueError("[FILTER] expect defines no rules")
    action = str(f.get("action", "exit")).lower()
    if action not in ("exit", "warn", "result_key"):
        raise ValueError(f"[FILTER] expect action must be exit|warn|"
                         f"result_key, got {action!r}")
    return {"cond": " AND ".join(conds), "action": action,
            "result_key": str(f.get("result_key", "_expect_ok"))}


def _read_checklist(f, parsers):
    """upstream:plugins/filter_checklist — ``File`` of values (one per
    line, or a parquet with a 'value' column), ``Lookup_key``,
    repeatable ``Record KEY VALUE`` sets on match, ``Ignore_case``. Mode
    partial is not implemented (the broadcast lookup is exact);
    ``Action keep|drop`` are the semi/anti-join extensions."""
    if not f.get("file"):
        raise ValueError("[FILTER] checklist needs File")
    if str(f.get("mode", "exact")).lower() != "exact":
        raise ValueError(
            "[FILTER] checklist supports Mode exact only "
            "(partial-match lists need a different join shape)")
    action = str(f.get("action", "flag")).lower()
    if action not in ("flag", "keep", "drop"):
        raise ValueError(f"[FILTER] checklist Action must be "
                         f"flag|keep|drop, got {action!r}")
    sets = [_pair(v, "[FILTER] checklist Record wants 'KEY VALUE', "
                     "got {val!r}") for v in _as_list(f.get("record"))]
    if sets and action != "flag":
        raise ValueError("[FILTER] checklist Record sets only "
                         "apply with Action flag")
    return {"path": str(f["file"]),
            "lookup_key": str(f.get("lookup_key", "source")),
            "action": action,
            "ignore_case": str(f.get("ignore_case", "off")).lower()
                           in ("on", "true", "1"),
            "sets": sets}


def _read_log_to_metrics(f, parsers):
    """upstream:plugins/filter_log_to_metrics — ``metric_mode`` (counter
    | gauge | histogram), ``metric_name`` (each slice writes the metric
    frame under ``metrics_out/<metric_name>/``), repeatable
    ``label_field``, ``value_field``, repeatable ``bucket`` boundaries,
    ``regex``/``exclude`` record pre-filters. ``gauge_mode`` (avg/min/
    max/sum, default avg) replaces upstream's arrival-order last value."""
    mode = str(f.get("metric_mode", "counter")).lower()
    if mode not in ("counter", "gauge", "histogram"):
        raise ValueError(f"[FILTER] log_to_metrics metric_mode must be "
                         f"counter|gauge|histogram, got {mode!r}")
    mname = f.get("metric_name")
    if not mname:
        raise ValueError("[FILTER] log_to_metrics needs metric_name (it "
                         "names the side output directory)")
    buckets: list[float] = []
    for v in _as_list(f.get("bucket")):
        try:
            buckets.append(float(v))
        except ValueError:
            raise ValueError(f"[FILTER] log_to_metrics bucket wants a "
                             f"float boundary, got {v!r}") from None
    if mode in ("gauge", "histogram") and not f.get("value_field"):
        raise ValueError(f"[FILTER] log_to_metrics {mode} "
                         f"needs value_field")
    if mode == "histogram" and not buckets:
        raise ValueError("[FILTER] log_to_metrics histogram "
                         "needs at least one bucket line")
    return {"name": str(mname), "mode": mode,
            "labels": _as_list(f.get("label_field")),
            "value_field": f.get("value_field"),
            "buckets": buckets or None,
            "gauge_mode": str(f.get("gauge_mode", "avg")).lower(),
            "grep_rules": _grep_rules(f),
            "description": f.get("metric_description")}


def _read_script(f, parsers):
    """``script``/``lua`` — upstream:plugins/filter_lua's ``script <file>``
    + ``call <fn>`` with the engine's vectorized runtime
    (operators/script.py): ``fn`` maps each Arrow batch
    (``pandas.DataFrame`` → same-schema ``pandas.DataFrame``; rows may
    drop or rewrite). ``.lua`` files are rejected with a porting hint."""
    spath = f.get("script")
    if not spath:
        raise ValueError(f"[FILTER] {str(f.get('name')).lower()} needs a "
                         f"Script property (path to a .py file)")
    if str(spath).endswith(".lua"):
        raise ValueError(
            "[FILTER] lua: no Lua runtime in this engine — port the "
            "script to a Python batch function (pandas.DataFrame -> "
            "pandas.DataFrame) and point Script at the .py file; Call "
            "still names the function")
    return {"path": str(spath), "call": str(f.get("call", "cb_filter"))}


def _read_split(f, parsers):
    """Engine extension (operators/filters.stratified_split):
    deterministic per-group eval holdout; repeatable ``Split_rate GROUP
    PERMILLE`` lines set per-group rates."""
    rates: dict[str, int] = {}
    for v in _as_list(f.get("split_rate")):
        parts = v.split()
        if len(parts) != 2 or not parts[1].lstrip("-").isdigit():
            raise ValueError(f"[FILTER] stratified_split Split_rate "
                             f"wants 'GROUP PERMILLE', got {v!r}")
        rates[parts[0]] = int(parts[1])
    default = int(f.get("default_rate", 0))
    if not all(0 <= r <= 1000 for r in [*rates.values(), default]):
        raise ValueError("[FILTER] stratified_split rates "
                         "want 0..1000 permille")
    return {"group_key": str(f.get("group_key", "source")),
            "hash_key": str(f.get("hash_key", "doc_id")),
            "rates": rates, "default_permille": default}


def _keep(where: Column | None, pred: Column) -> Column:
    """Keep ``pred``'s rows and every row the Match does not select."""
    return pred if where is None else ~where | pred


def _scope_columns(out: DataFrame, where: Column | None,
                   stage: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Run a column-writing ``stage`` on the rows ``where`` selects. On
    the other rows every column keeps its old value, and a column the
    stage adds is NULL."""
    if where is None:
        return stage(out)
    old = {c: f"__old{i}" for i, c in enumerate(out.columns)}
    new = stage(out.select("*", where.alias("__where"),
                           *[F.col(c).alias(o) for c, o in old.items()]))
    hit = F.col("__where")
    return new.select(*[
        (F.when(hit, F.col(c)).otherwise(F.col(old[c])) if c in old
         else F.when(hit, F.col(c))).alias(c)
        for c in new.columns if c != "__where" and c not in old.values()])


def _read_once(side_tables: dict | None, key: tuple,
               read: Callable[[], DataFrame]) -> DataFrame:
    """A side table from ``side_tables``, read on first use (every time
    without it): ``run_pipeline`` passes one dict per call, so the lookup
    dim and checklist lists are read once per call, not per slice."""
    if side_tables is None:
        return read()
    if key not in side_tables:
        side_tables[key] = read()
    return side_tables[key]


def _grep(spark, out, conf, where, side_tables):
    # grep drops rows entirely in fluent-bit, and a grep miss is a real
    # drop here too. Nothing counts these drops yet
    return out.filter(_keep(where, grep_predicate(*conf)))


def _rewrite_tag(spark, out, rules, where, side_tables):
    return apply_rewrite_tag(out, rules, gate=where)


def _lookup(spark, out, lk, where, side_tables):
    path = lk["path"]
    if lk.get("ttl") is not None:
        dim = dim_cache_for(path, lk["ttl"]).resolve(spark)
    else:
        dim = _read_once(side_tables, ("lookup", path),
                         lambda: spark.read.parquet(path))
    return _scope_columns(out, where, lambda d: lookup_join(
        d, dim, lk.get("key", "source")))


def _parser(spark, out, pf, where, side_tables):
    return _scope_columns(out, where, lambda d: (
        apply_regex_parser(d, pf.parsers[0], key=pf.key, out=pf.out)
        if len(pf.parsers) == 1
        else parse_first_match(d, pf.parsers, key=pf.key, out=pf.out)))


def _modify(spark, out, ms, where, side_tables):
    return apply_modify(out, ms, gate=where)


def _nest(spark, out, conf, where, side_tables):
    op, kw = conf
    return nest(out, **kw) if op == "nest" else lift(out, **kw)


def _throttle(spark, out, tsp, where, side_tables):
    return throttle(out, tsp["rate"], tsp["keys"], ts_col=tsp.get("ts_key"),
                    interval=tsp.get("interval", "1 minute"),
                    tiebreak=tsp.get("tiebreak") or ["doc_id"])


def _type_converter(spark, out, conversions, where, side_tables):
    return _scope_columns(out, where,
                          lambda d: type_convert(d, conversions))


def _sampling(spark, out, conf, where, side_tables):
    return out.filter(_keep(where, sample_predicate(*conf)))


def _expect(spark, out, es, where, side_tables):
    cond, action = F.expr(es["cond"]), es.get("action", "exit")
    if action == "exit":
        return expect(out, _keep(where, cond), action="exit")
    return _scope_columns(out, where, lambda d: expect(
        d, cond, action=action,
        result_key=es.get("result_key", "_expect_ok")))


def _checklist(spark, out, ck, where, side_tables):
    """The value list broadcast against ``lookup_key``: 'flag' stamps
    ``matched`` and applies the ``Record`` sets on a hit (upstream
    behavior); 'keep'/'drop' filter on the same hit flag."""
    path, key = ck["path"], ck["lookup_key"]
    action = ck.get("action", "flag")
    values = _read_once(side_tables, ("checklist", path), lambda: (
        spark.read.parquet(path) if str(path).endswith(".parquet")
        else spark.read.text(path)))     # upstream: one value per line
    list_key = "value" if "value" in values.columns else values.columns[0]
    if ck.get("ignore_case"):
        values = values.select(
            F.lower(F.col(list_key).cast("string")).alias(list_key))

    def flag(d: DataFrame, flag_col: str) -> DataFrame:
        if not ck.get("ignore_case"):
            return checklist_flag(d, values, key, list_key=list_key,
                                  flag_col=flag_col)
        d = d.withColumn("__ck_key", F.lower(F.col(key).cast("string")))
        return checklist_flag(d, values, "__ck_key", list_key=list_key,
                              flag_col=flag_col).drop("__ck_key")

    if action != "flag":
        hit = F.col("__ck_hit")
        return (flag(out, "__ck_hit")
                .filter(_keep(where, hit if action == "keep" else ~hit))
                .drop("__ck_hit"))

    def flag_and_set(d: DataFrame) -> DataFrame:
        d = flag(d, "matched")
        for k, v in ck.get("sets", []):
            d = d.withColumn(
                k, F.when(F.col("matched"), F.lit(v))
                    .otherwise(F.col(k) if k in d.columns
                               else F.lit(None).cast("string")))
        return d
    return _scope_columns(out, where, flag_and_set)


def _split(spark, out, sp, where, side_tables):
    return _scope_columns(out, where, lambda d: stratified_split(
        d, sp["group_key"], sp["hash_key"], sp.get("rates", {}),
        sp.get("default_permille", 0)))


_SCRIPT_CACHE: dict = {}


def load_script_fn(path: str, call: str):
    """Load the batch function a ``[FILTER] script`` block names
    (upstream:plugins/filter_lua/lua.c gets one record per call; here
    one pandas.DataFrame per Arrow batch, operators/script.py). Modules
    load once per driver and ship to executors by closure."""
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


def _script(spark, out, ss, where, side_tables):
    return filter_map_batches(out, load_script_fn(ss["path"], ss["call"]))


def _never(conf) -> bool:
    return False


@dataclass(frozen=True)
class Filter:
    """``read(properties, parsers)`` validates a block into its conf;
    ``stage(spark, frame, conf, where, side_tables)`` applies one on the
    rows ``where`` (the Match predicate, None for every tag) selects;
    None means the spec keeps the conf in a field of its own.
    ``scoped(conf)``: the stage honours a Match other than ``*``.
    ``once``: one block per pipeline."""

    read: Callable[[dict, dict], Any]
    stage: Callable[..., DataFrame] | None = None
    scoped: Callable[[Any], bool] = lambda conf: True
    once: bool = False
    after_route: bool = False


def _set_add_only(ms: ModifySpec) -> bool:
    # Remove/Rename/Copy change a column of every tag
    return all(r.op in ("set", "add") for r in ms.rules)


FILTERS: dict[str, Filter] = {
    "grep": Filter(_read_grep, _grep),
    "rewrite_tag": Filter(_read_rewrite_tag, _rewrite_tag),
    "lookup": Filter(_read_lookup, _lookup),
    "parser": Filter(_read_parser, _parser),
    "modify": Filter(_read_modify, _modify, _set_add_only),
    "record_modifier": Filter(_read_record_modifier, _modify, _set_add_only),
    # nest/lift shape the record for the sink, so they run after routing
    # (upstream: in config order): the tag expression, the rewrite rules
    # and the DLQ keep their schema references whatever the reshaping
    "nest": Filter(_read_nest, _nest, _never, after_route=True),
    "throttle": Filter(_read_throttle, _throttle, _never),
    "type_converter": Filter(_read_type_converter, _type_converter),
    "sampling": Filter(_read_sampling, _sampling, once=True),
    "multiline": Filter(_read_multiline, None, _never),
    "expect": Filter(_read_expect, _expect),
    "checklist": Filter(_read_checklist, _checklist),
    "stratified_split": Filter(_read_split, _split, once=True),
    "log_to_metrics": Filter(_read_log_to_metrics, None, _never),
    "script": Filter(_read_script, _script, _never),
    "lua": Filter(_read_script, _script, _never),
}


def filter_match(f: dict[str, Any]) -> Route | None:
    """A block's Match or Match_Regex; None for ``Match *`` or none."""
    name = str(f.get("name", "")).lower()
    if f.get("match_regex"):
        return Route(name, str(f["match_regex"]), "regex")
    pattern = str(f.get("match", "*"))
    return None if pattern == "*" else Route(name, pattern, "glob")


def check_scope(name: str, match: Route | None, conf) -> None:
    """Raise for a Match the filter cannot honour, never ignore it."""
    if match is not None and not FILTERS[name].scoped(conf):
        raise ValueError(
            f"[FILTER] {name} with Match {match.pattern!r}: this filter "
            f"cannot run on only some tags without a second pass; use "
            f"Match * or leave Match out")


def run_filters(spark: SparkSession, out: DataFrame, filters: list,
                side_tables: dict | None = None, *,
                after_route: bool = False) -> DataFrame:
    """Apply the entries in order, each on the rows whose tag its Match
    selects (``after_route``: the stages that run after routing). A
    rewrite_tag copy meets only the filters after its rewrite_tag, not
    the earlier ones as upstream's in_emitter re-injection would."""
    for name, match, conf in filters:
        flt = FILTERS[name]
        if flt.after_route == after_route:
            where = None if match is None else F.coalesce(
                match_predicate(F.col("tag"), match), F.lit(False))
            out = flt.stage(spark, out, conf, where, side_tables)
    return out
