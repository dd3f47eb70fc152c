"""Parsers: raw line → typed fields (SURVEY.md §2.2).

Reference semantics re-expressed (NOT ported):

- regex parser with named capture groups + per-field type hints
  (upstream:src/flb_parser_regex.c, flb_parser.c ``flb_parser_do`` /
  ``flb_parser_typecast``) → Arrow-batched pandas UDF using pandas'
  ``Series.str.extract`` (vectorized C regex) + native ``try_cast``.
- json parser (upstream:src/flb_parser_json.c) → ``F.from_json``.
- ltsv parser (upstream:src/flb_parser_ltsv.c) → ``F.str_to_map``.
- logfmt parser (upstream:src/flb_parser_logfmt.c) → ``str_to_map`` for
  the simple case, regex-findall pandas UDF for quoted values.
- time lookup (upstream:src/flb_parser.c ``flb_parser_time_lookup``) →
  ``F.try_to_timestamp`` with strptime→Java format conversion.
- parser decoders / do_next chains (upstream:src/flb_parser_decoder.c) →
  ``F.coalesce`` over try-parse columns (see ``parse_first_match``).
- the pipeline's fused multi-shape parser (a parser list with do_next
  chaining) → one ``F.arrow_udf`` over the RE2 kernel ``_parse_arrow``,
  detokenizing first on the tokens path (``fused_detok_parse``,
  ``with_parsed``).
"""

from __future__ import annotations

import re
import sys
import zipimport
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Generic named-group regex parser (the fluent-bit [PARSER] regex block)
# ---------------------------------------------------------------------------

_TYPE_MAP = {
    "integer": T.LongType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "hex": T.LongType(),  # cast after conv(, 16, 10)
}


@dataclass(frozen=True)
class RegexParser:
    """A named parser: regex with named groups + optional type hints and
    a time key — mirrors a fluent-bit ``[PARSER] Format regex`` block."""

    name: str
    pattern: str
    types: dict[str, str] = field(default_factory=dict)   # group -> type hint
    time_key: str | None = None
    time_format: str | None = None                        # strptime format

    def group_names(self) -> list[str]:
        return list(re.compile(self.pattern).groupindex.keys())


def regex_extract_udf(parser: RegexParser):
    """pandas UDF: raw string column → struct of string groups (null row on
    no-match). The pattern compiles once per executor (closure), matching
    the reference's compile-once Onigmo posture."""
    names = parser.group_names()
    if not names:
        raise ValueError(f"parser {parser.name}: pattern has no named groups")
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    pat = parser.pattern

    @F.pandas_udf(schema)
    def extract(s: pd.Series) -> pd.DataFrame:
        rx = re.compile(pat)
        out = s.str.extract(rx)  # vectorized; NaN rows where no match
        out.columns = names
        return out.where(pd.notna(out), None)

    return extract


def apply_regex_parser(df: DataFrame, parser: RegexParser,
                       key: str = "decoded",
                       out: str | None = None) -> DataFrame:
    """Add ``out`` struct column with typed fields; rows that do not match
    get a null struct (caller decides keep/drop — filter_parser semantics)."""
    out = out or f"parsed_{parser.name}"
    udf = regex_extract_udf(parser)
    df = df.withColumn(out, udf(F.col(key)))
    # no-match → whole struct null (str.extract yields all-null fields)
    names = parser.group_names()
    any_hit = None
    for n in names:
        c = F.col(f"{out}.{n}").isNotNull()
        any_hit = c if any_hit is None else (any_hit | c)
    typed = []
    for n in names:
        c = F.col(f"{out}.{n}")
        hint = parser.types.get(n)
        if hint == "hex":
            c = F.conv(c, 16, 10).cast(T.LongType())
        elif hint in _TYPE_MAP:
            c = c.try_cast(_TYPE_MAP[hint])
        if parser.time_key == n and parser.time_format:
            c = try_strptime(c, parser.time_format)
        typed.append(c.alias(n))
    return df.withColumn(
        out, F.when(any_hit, F.struct(*typed)).otherwise(F.lit(None)))


def parse_first_match(df: DataFrame, parsers: list[RegexParser],
                      key: str = "decoded",
                      out: str = "fields") -> DataFrame:
    """Decoder chain (``do_next`` semantics): first parser that matches
    wins. Requires all parsers to share a field-name superset — callers
    should normalize group names; missing groups become nulls."""
    all_names: list[str] = []
    for p in parsers:
        for n in p.group_names():
            if n not in all_names:
                all_names.append(n)
    tmp_cols = []
    for p in parsers:
        df = apply_regex_parser(df, p, key=key, out=f"__p_{p.name}")
        names = set(p.group_names())
        padded = F.when(
            F.col(f"__p_{p.name}").isNotNull(),
            F.struct(
                *[(F.col(f"__p_{p.name}.{n}") if n in names
                   else F.lit(None).cast(T.StringType())).alias(n)
                  for n in all_names],
                F.lit(p.name).alias("parser"),
            ))
        df = df.withColumn(f"__p_{p.name}", padded)
        tmp_cols.append(f"__p_{p.name}")
    df = df.withColumn(out, F.coalesce(*[F.col(c) for c in tmp_cols]))
    return df.drop(*tmp_cols)


# ---------------------------------------------------------------------------
# Field decoders (upstream:src/flb_parser_decoder.c — Decode_Field_As
# escaped / escaped_utf8 / json, and Decode_Field chains with do_next)
# ---------------------------------------------------------------------------


def decode_escaped(col: Column | str) -> Column:
    """``Decode_Field_As escaped``: unescape a C/JSON-escaped payload
    (\\n, \\t, \\r, \\", \\\\, \\uXXXX, …) — JVM-side, single pass, via
    the JSON string decoder: wrap in quotes, ``from_json``.

    Input contract: the value must BE a valid escaped payload; a raw
    unescaped ``"`` makes the wrapper malformed and yields NULL (flb's
    unescape passes malformed input through — divergence only on input
    that was never escaped, where a decoder chain should fall back via
    ``F.coalesce(decoded, original)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(F.concat(F.lit('["'), c, F.lit('"]')),
                       "array<string>")[0]


def decode_escaped_utf8(col: Column | str) -> Column:
    """``Decode_Field_As escaped_utf8``: like ``decode_escaped`` but
    also decodes ``\\xNN`` byte escapes, rewritten to ``\\u00NN`` first.
    Divergence, documented: flb splices \\xNN as raw UTF-8 BYTES, so a
    multi-byte sequence (NN ≥ 0x80) reassembles into one code point;
    here each escape becomes the Latin-1 code point U+00NN. Identical
    for 7-bit escapes, which is what logs contain in practice."""
    c = F.col(col) if isinstance(col, str) else col
    return decode_escaped(
        F.regexp_replace(c, r"\\x([0-9a-fA-F]{2})", r"\\u00$1"))


FIELD_DECODERS = {
    "escaped": decode_escaped,
    "escaped_utf8": decode_escaped_utf8,
}


def decoder_chain(df: DataFrame, field: str,
                  hows: list[str],
                  json_out: str | None = None,
                  json_schema: str = "map<string,string>") -> DataFrame:
    """``Decode_Field … do_next`` chain: apply string decoders in order,
    each falling back to its input when it fails (NULL-coalesce — the
    batch analogue of do_next's try-and-continue), then optionally lift
    the result as JSON into ``json_out`` (the common
    ``escaped → json`` upstream config). All JVM-side."""
    out = df
    for how in hows:
        if how == "json":
            out = out.withColumn(json_out or f"{field}_json",
                                 F.from_json(F.col(field), json_schema))
            continue
        decoded = FIELD_DECODERS[how](F.col(field))
        out = out.withColumn(field, F.coalesce(decoded, F.col(field)))
    return out


# ---------------------------------------------------------------------------
# Native (JVM-side) structured parsers
# ---------------------------------------------------------------------------

def json_parser(col: Column | str, schema: T.StructType | str | None = None,
                ) -> Column:
    """upstream:src/flb_parser_json.c → from_json. With no schema, parse to
    map<string,string> (fluent-bit's schemaless map analogue)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, schema or "map<string,string>")


def ltsv_parser(col: Column | str) -> Column:
    """upstream:src/flb_parser_ltsv.c → str_to_map on tab / colon."""
    c = F.col(col) if isinstance(col, str) else col
    return F.str_to_map(c, F.lit("\t"), F.lit(":"))


def logfmt_parser(col: Column | str) -> Column:
    """Simple (unquoted) logfmt: k=v pairs split on spaces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.str_to_map(c, F.lit(" "), F.lit("="))


_LOGFMT_PAIR = re.compile(r'([A-Za-z0-9_.-]+)=(?:"([^"]*)"|(\S*))')


def logfmt_quoted_udf():
    """Full logfmt with quoted values → map<string,string> pandas UDF
    (vectorized ``str.findall``)."""

    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(s: pd.Series) -> pd.Series:
        found = s.str.findall(_LOGFMT_PAIR)
        return found.map(
            lambda pairs: {k: (q if q != "" else u)
                           for k, q, u in pairs} if isinstance(pairs, list)
            else None)

    return parse


# ---------------------------------------------------------------------------
# Time parsing (flb_parser_time_lookup semantics)
# ---------------------------------------------------------------------------

_STRPTIME_TO_JAVA = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd",
    "b": "MMM", "B": "MMMM", "H": "HH", "M": "mm",
    "S": "ss", "L": "SSS", "f": "SSSSSS", "z": "xx", "Z": "zz",
    "p": "a", "I": "hh", "j": "DDD", "e": "d",
    "T": "HH:mm:ss", "F": "yyyy-MM-dd", "%": "%",
}


def strptime_to_java(fmt: str) -> str:
    """strptime → Java DateTimeFormatter pattern. Tokenizing translator:
    literal alphabetic characters (e.g. the ``T``/``Z`` of an ISO-8601
    format) are Java pattern letters and MUST be single-quoted; embedded
    quotes are doubled per the DateTimeFormatter literal rules."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        s = "".join(lit)
        lit.clear()
        if any(c.isalpha() or c == "'" for c in s):
            out.append("'" + s.replace("'", "''") + "'")
        else:
            out.append(s)

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            if fmt[i + 1 : i + 3] == ":z":  # GNU ext: colon offset +00:00
                flush()
                out.append("XXX")
                i += 3
                continue
            d = fmt[i + 1]
            if d in _STRPTIME_TO_JAVA:
                flush()
                out.append(_STRPTIME_TO_JAVA[d])
                i += 2
                continue
        lit.append(c)
        i += 1
    flush()
    return "".join(out)


# ---------------------------------------------------------------------------
# Syslog parser presets (upstream:conf/parsers.conf syslog-rfc5424 /
# syslog-rfc3164 [PARSER] blocks) — plain RegexParser instances through
# the same vectorized extract path as any user-defined parser.
# ---------------------------------------------------------------------------


def syslog_parser(mode: str = "rfc5424",
                  time_format: str | None = None) -> RegexParser:
    """The two fluent-bit syslog presets. ``time_format`` overrides the
    preset's canonical strptime format (e.g. a renderer that emits
    second-precision ``...SZ`` instead of ``.%L%z``)."""
    if mode == "rfc5424":
        return RegexParser(
            name="syslog-rfc5424",
            pattern=(r"^<(?P<pri>\d{1,5})>1 (?P<time>[^ ]+) "
                     r"(?P<host>[^ ]+) (?P<ident>[^ ]+) (?P<pid>[-0-9]+) "
                     r"(?P<msgid>[^ ]+) (?P<extradata>(?:\[.*?\]|-)) "
                     r"(?P<message>.+)$"),
            types={"pri": "integer", "pid": "integer"},
            time_key="time",
            time_format=time_format or "%Y-%m-%dT%H:%M:%S.%L%:z")
    if mode == "rfc3164":
        return RegexParser(
            name="syslog-rfc3164",
            pattern=(r"^<(?P<pri>\d+)>"
                     r"(?P<time>[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
                     r"(?P<host>[^ ]+) "
                     r"(?P<ident>[a-zA-Z0-9_\/\.\-]*)"
                     r"(?:\[(?P<pid>\d+)\])?(?:[^:]*:)? *(?P<message>.*)$"),
            types={"pri": "integer", "pid": "integer"},
            time_key="time",
            time_format=time_format or "%b %d %H:%M:%S")
    raise ValueError(f"unknown syslog mode {mode!r}")


def syslog_pri_decompose(pri: Column | str) -> tuple[Column, Column]:
    """RFC 5424 PRI → (facility, severity): pri = facility·8 + severity."""
    c = F.col(pri) if isinstance(pri, str) else pri
    return (c / 8).cast(T.IntegerType()), (c % 8).cast(T.IntegerType())


def try_strptime(col: Column | str, fmt: str) -> Column:
    """strptime-format timestamp parse; invalid → null (never error —
    fluent-bit keeps the record with the ingest time on parse failure;
    our DLQ policy handles nulls downstream)."""
    c = F.col(col) if isinstance(col, str) else col
    if fmt in ("%s", "epoch"):
        return F.timestamp_seconds(c.try_cast(T.LongType()))
    return F.try_to_timestamp(c, F.lit(strptime_to_java(fmt)))


# ---------------------------------------------------------------------------
# Fused multi-shape log-line parser: the flagship pipeline's hot path.
# One arrow_udf classifies and parses all five fixture shapes
# (apache / json / ltsv / logfmt / garbage). Equivalent to a fluent-bit
# parser list with do_next chaining, but fused so the 10^12-row scan pays
# a single UDF boundary. Only the UDF's argument (tokens, or decoded on
# the text path) crosses into Python, and only (decoded, fields) come
# back: no pandas, and the rest of the row stays in the JVM.
# ---------------------------------------------------------------------------

KEEP_DECODED = ("always", "dlq_only")

PARSED_FIELDS = [
    ("kind", T.StringType()),
    ("level", T.StringType()),
    ("code", T.IntegerType()),
    ("msg", T.StringType()),
    ("path", T.StringType()),
    ("host", T.StringType()),
    ("ip", T.StringType()),
    ("method", T.StringType()),
    ("user", T.StringType()),
    ("ts_raw", T.StringType()),
    ("size", T.LongType()),
    ("dur_ms", T.LongType()),
    ("k", T.LongType()),
]
PARSED_SCHEMA = T.StructType(
    [T.StructField(n, t) for n, t in PARSED_FIELDS])
_FIELD_NAMES = [n for n, _ in PARSED_FIELDS]

_APACHE_RE = re.compile(
    r'^(?P<ip>\d+\.\d+\.\d+\.\d+) - (?P<user>\S+) \[(?P<ts_raw>[^\]]+)\] '
    r'"(?P<method>\S+) (?P<path>\S+) HTTP/[\d.]+" (?P<code>\d+) '
    r'(?P<size>\d+)\s*$')
_JSON_LEVEL = re.compile(r'"level"\s*:\s*"(\w+)"')
_JSON_MSG = re.compile(r'"msg"\s*:\s*"([^"]*)"')
_JSON_CODE = re.compile(r'"code"\s*:\s*(\d+)')
_JSON_K = re.compile(r'"k"\s*:\s*(\d+)')
_LTSV_F = {k: re.compile(rf'(?:^|\t){k}:([^\t]*)')
           for k in ("host", "level", "code", "msg")}
_LOGFMT_LEVEL = re.compile(r'(?:^| )level=(\S+)')
_LOGFMT_MSG = re.compile(r'msg="([^"]*)"')
_LOGFMT_CODE = re.compile(r'(?:^| )code=(\d+)')
_LOGFMT_DUR = re.compile(r'(?:^| )dur_ms=(\d+)')


_RE2_APACHE = (
    r'^(?P<ip>\d+\.\d+\.\d+\.\d+) - (?P<user>\S+) \[(?P<ts_raw>[^\]]+)\] '
    r'"(?P<method>\S+) (?P<path>\S+) HTTP/[\d.]+" (?P<code>\d+) '
    r'(?P<size>\d+)\s*$')


def _ex(arr, pattern: str, group: str = "v"):
    """re2-vectorized single-group extract → (values, valid_mask)."""
    st = pc.extract_regex(arr, pattern)
    return pc.struct_field(st, group), pc.is_valid(st)


def _parse_arrow(arr: pa.Array) -> dict[str, pa.Array]:
    """Arrow-compute parse core (pc.extract_regex = RE2 in C++, no
    per-row Python): classify + extract all shapes, returning one
    arrow array per PARSED_FIELDS column. The body of the parse
    ``arrow_udf`` (``_parse_udf``); semantics pinned to the pandas
    reference implementation (``_parse_batch_pandas``) by the parity
    test in tests/test_parsers.py."""
    f = lambda m: pc.fill_null(m, False)  # noqa: E731

    js = f(pc.starts_with(arr, "{"))
    ltsv = pc.and_(f(pc.match_substring(arr, "\t")), pc.invert(js))
    not_js_ltsv = pc.invert(pc.or_(js, ltsv))

    ap = pc.extract_regex(arr, _RE2_APACHE)
    ap_ok = pc.and_(pc.is_valid(ap), not_js_ltsv)
    apf = {g: pc.if_else(ap_ok, pc.struct_field(ap, g), None)
           for g in ("ip", "user", "ts_raw", "method", "path", "code",
                     "size")}

    logfmt = pc.and_(pc.and_(f(pc.match_substring(arr, "=")), not_js_ltsv),
                     pc.invert(ap_ok))

    def masked_ex(mask, pattern):
        v, ok = _ex(arr, pattern)
        both = pc.and_(mask, ok)
        return pc.if_else(both, v, None), both

    j_level, j_level_ok = masked_ex(js, r'"level"\s*:\s*"(?P<v>\w+)"')
    j_msg, _ = masked_ex(js, r'"msg"\s*:\s*"(?P<v>[^"]*)"')
    j_code, j_code_ok = masked_ex(js, r'"code"\s*:\s*(?P<v>\d+)')
    j_k, _ = masked_ex(js, r'"k"\s*:\s*(?P<v>\d+)')
    l_host, _ = masked_ex(ltsv, r'(?:^|\t)host:(?P<v>[^\t]*)')
    l_level, l_level_ok = masked_ex(ltsv, r'(?:^|\t)level:(?P<v>[^\t]*)')
    # numeric-only capture ≡ the pandas version's to_numeric coerce
    l_code, _ = masked_ex(ltsv, r'(?:^|\t)code:(?P<v>\d+)(?:\t|$)')
    l_msg, _ = masked_ex(ltsv, r'(?:^|\t)msg:(?P<v>[^\t]*)')
    f_level, f_level_ok = masked_ex(logfmt, r'(?:^| )level=(?P<v>\S+)')
    f_msg, _ = masked_ex(logfmt, r'msg="(?P<v>[^"]*)"')
    f_code, _ = masked_ex(logfmt, r'(?:^| )code=(?P<v>\d+)')
    f_dur, _ = masked_ex(logfmt, r'(?:^| )dur_ms=(?P<v>\d+)')

    kind = pc.if_else(
        ap_ok, pa.scalar("apache"),
        pc.if_else(
            pc.and_(js, pc.or_(j_level_ok, j_code_ok)), pa.scalar("json"),
            pc.if_else(
                pc.and_(ltsv, l_level_ok), pa.scalar("ltsv"),
                pc.if_else(pc.and_(logfmt, f_level_ok),
                           pa.scalar("logfmt"), None))))

    def pick(*branches):
        out = None
        for b in branches:
            out = b if out is None else pc.if_else(pc.is_valid(out), out, b)
        return out

    def to_int(a, typ):
        return pc.cast(a, typ, safe=False)

    return {
        "kind": kind,
        "level": pick(j_level, l_level, f_level),
        "code": to_int(pick(apf["code"], j_code, l_code, f_code),
                       pa.int32()),
        "msg": pick(j_msg, l_msg, f_msg),
        "path": apf["path"],
        "host": l_host,
        "ip": apf["ip"],
        "method": apf["method"],
        "user": apf["user"],
        "ts_raw": apf["ts_raw"],
        "size": to_int(apf["size"], pa.int64()),
        "dur_ms": to_int(f_dur, pa.int64()),
        "k": to_int(j_k, pa.int64()),
    }


def _parse_batch_pandas(s: pd.Series) -> pd.DataFrame:
    """pandas reference implementation of :func:`_parse_arrow`, kept as
    the test oracle."""
    out = pd.DataFrame(index=s.index)
    for name, _ in PARSED_FIELDS:
        out[name] = pd.Series(None, index=s.index, dtype=object)

    is_json = s.str.startswith("{", na=False)
    is_ltsv = s.str.contains("\t", na=False) & ~is_json
    # run the (expensive) apache regex only on candidate rows — lines
    # starting with a digit that aren't json/ltsv (cheap prefilter; the
    # reference pays full regex per configured parser per record)
    cand = ~is_json & ~is_ltsv & s.str.match(r"\d", na=False)
    is_apache = pd.Series(False, index=s.index)
    if cand.any():
        apache_ext = s[cand].str.extract(_APACHE_RE)
        hit = apache_ext["ip"].notna()
        is_apache.loc[hit.index[hit]] = True
        ok = apache_ext[hit]
        for f_ in ("ip", "user", "ts_raw", "method", "path", "code", "size"):
            out.loc[ok.index, f_] = ok[f_]
        out.loc[ok.index, "kind"] = "apache"
    is_logfmt = (s.str.contains("=", na=False)
                 & ~is_json & ~is_ltsv & ~is_apache)
    if is_json.any():
        sub = s[is_json]
        out.loc[is_json, "level"] = sub.str.extract(_JSON_LEVEL)[0]
        out.loc[is_json, "msg"] = sub.str.extract(_JSON_MSG)[0]
        out.loc[is_json, "code"] = sub.str.extract(_JSON_CODE)[0]
        out.loc[is_json, "k"] = sub.str.extract(_JSON_K)[0]
        # a '{'-prefixed line with no recognizable fields is NOT parsed
        ok = is_json & (out["level"].notna() | out["code"].notna())
        out.loc[ok, "kind"] = "json"
    if is_ltsv.any():
        sub = s[is_ltsv]
        for f_, rx in _LTSV_F.items():
            out.loc[is_ltsv, f_] = sub.str.extract(rx)[0]
        ok = is_ltsv & out["level"].notna()
        out.loc[ok, "kind"] = "ltsv"
    if is_logfmt.any():
        sub = s[is_logfmt]
        out.loc[is_logfmt, "level"] = sub.str.extract(_LOGFMT_LEVEL)[0]
        out.loc[is_logfmt, "msg"] = sub.str.extract(_LOGFMT_MSG)[0]
        out.loc[is_logfmt, "code"] = sub.str.extract(_LOGFMT_CODE)[0]
        out.loc[is_logfmt, "dur_ms"] = sub.str.extract(_LOGFMT_DUR)[0]
        ok = is_logfmt & out["level"].notna()
        out.loc[ok, "kind"] = "logfmt"

    for f_, dtype in (("code", "Int32"), ("size", "Int64"),
                      ("dur_ms", "Int64"), ("k", "Int64")):
        out[f_] = pd.to_numeric(out[f_], errors="coerce").astype(dtype)
    return out


def _fields(cols: dict[str, pa.Array]) -> pa.StructArray:
    return pa.StructArray.from_arrays([cols[n] for n in _FIELD_NAMES],
                                      names=_FIELD_NAMES)


def _drop_zip_finders() -> None:
    """Forget the worker's cached zip-archive path finders.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and there each cached ``zipimporter`` re-reads
    its whole archive: with pyspark imported from ``pyspark.zip`` that
    is 16 finders and 0.1-0.25 s a task. A dropped finder is rebuilt
    from zipimport's directory cache, without reading the archive, when
    an import next needs it."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def _parse_udf(vocab=None, dlq_only: bool = False):
    """The parse stage's one Python boundary: an ``arrow_udf`` over
    :func:`_parse_arrow`. Without ``vocab`` it maps ``decoded`` →
    ``fields``; with ``vocab`` (a broadcast string array) it maps
    ``tokens`` → struct(decoded, fields), detokenizing first and, with
    ``dlq_only``, nulling ``decoded`` where the line parsed. Each batch
    first drops the worker's zip finders (:func:`_drop_zip_finders`)."""
    if vocab is None:
        @F.arrow_udf(PARSED_SCHEMA)
        def parse(decoded: pa.Array) -> pa.Array:
            _drop_zip_finders()
            return _fields(_parse_arrow(decoded))
        return parse

    from .detok import _detok_chunk
    schema = T.StructType([T.StructField("decoded", T.StringType()),
                           T.StructField("fields", PARSED_SCHEMA)])

    @F.arrow_udf(schema)
    def parse(tokens: pa.Array) -> pa.Array:
        _drop_zip_finders()
        decoded = _detok_chunk(tokens, vocab.value)
        cols = _parse_arrow(decoded)
        if dlq_only:
            decoded = pc.if_else(pc.is_valid(cols["kind"]),
                                 pa.scalar(None, pa.string()), decoded)
        return pa.StructArray.from_arrays([decoded, _fields(cols)],
                                          names=["decoded", "fields"])
    return parse


def with_parsed(df: DataFrame, decoded_col: str = "decoded",
                out: str = "fields") -> DataFrame:
    """Add the fused parse struct + parse_ok flag."""
    df = df.withColumn(out, _parse_udf()(F.col(decoded_col)))
    return df.withColumn("parse_ok", F.col(f"{out}.kind").isNotNull())


def fused_detok_parse(df: DataFrame, spark, vocab: list[str],
                      tokens_col: str = "tokens",
                      decoded_col: str = "decoded",
                      fields_col: str = "fields",
                      keep_decoded: str = "always") -> DataFrame:
    """Detokenize + parse: add ``decoded``, the fused parse struct and
    parse_ok. ``tokens`` itself is only read, so the token-equality
    invariant holds. ``keep_decoded``:

    - ``always`` — the raw decoded line rides every row (reference
      posture: the record body is the raw line until filters rewrite).
    - ``dlq_only`` — decoded is nulled on successfully-parsed rows:
      sinks write structured fields, the dead-letter sink keeps the raw
      text for reprocessing, and the Python→JVM return volume shrinks
      by the parse-success rate.
    """
    if keep_decoded not in KEEP_DECODED:
        raise ValueError(f"keep_decoded must be one of {KEEP_DECODED}, "
                         f"got {keep_decoded!r}")
    pieces = spark.sparkContext.broadcast(pa.array(vocab, pa.string()))
    udf = _parse_udf(pieces, dlq_only=keep_decoded == "dlq_only")
    return (df.withColumn("__p", udf(F.col(tokens_col)))
              .withColumns({
                  decoded_col: F.col("__p.decoded"),
                  fields_col: F.col("__p.fields"),
                  "parse_ok": F.col("__p.fields.kind").isNotNull()})
              .drop("__p"))
