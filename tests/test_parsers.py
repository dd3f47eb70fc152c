"""Parser goldens (FIXTURES.md F6; reference semantics from
upstream:tests/internal/parser.c re-expressed as golden DataFrames)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.functions.parsers import (
    RegexParser, apply_regex_parser, json_parser, logfmt_parser,
    logfmt_quoted_udf, ltsv_parser, parse_first_match, strptime_to_java,
    try_strptime, with_parsed,
)

APACHE_LINE = ('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
               '"GET /x HTTP/1.0" 200 2326')

APACHE_PARSER = RegexParser(
    name="apache",
    pattern=(r'^(?P<host>[^ ]*) [^ ]* (?P<user>[^ ]*) \[(?P<time>[^\]]*)\] '
             r'"(?P<method>\S+) (?P<path>[^ ]*) [^"]*" (?P<code>[^ ]*) '
             r'(?P<size>[^ ]*)$'),
    types={"code": "integer", "size": "integer"},
    time_key="time", time_format="%d/%b/%Y:%H:%M:%S %z")


def test_regex_parser_named_groups_and_types(spark):
    df = spark.createDataFrame([(APACHE_LINE,), ("not a log line",)],
                               ["decoded"])
    out = apply_regex_parser(df, APACHE_PARSER).collect()
    good = [r for r in out if r.decoded == APACHE_LINE][0].parsed_apache
    assert good.host == "127.0.0.1"
    assert good.user == "frank"
    assert good.method == "GET"
    assert good.path == "/x"
    assert good.code == 200 and isinstance(good.code, int)
    assert good.size == 2326
    assert good.time == dt.datetime(2000, 10, 10, 20, 55, 36)  # UTC
    bad = [r for r in out if r.decoded != APACHE_LINE][0]
    assert bad.parsed_apache is None


def test_regex_parser_hex_type(spark):
    p = RegexParser("hexp", r"id=(?P<id>[0-9a-f]+)", types={"id": "hex"})
    df = spark.createDataFrame([("id=ff",)], ["decoded"])
    assert apply_regex_parser(df, p).collect()[0].parsed_hexp.id == 255


def test_parse_first_match_chain(spark):
    """decoder do_next semantics: first matching parser wins."""
    p1 = RegexParser("kv", r"^k=(?P<v>\d+)$")
    p2 = RegexParser("word", r"^(?P<w>[a-z]+)$")
    df = spark.createDataFrame([("k=5",), ("hello",), ("???",)], ["decoded"])
    rows = {r.decoded: r.fields
            for r in parse_first_match(df, [p1, p2]).collect()}
    assert rows["k=5"].parser == "kv" and rows["k=5"].v == "5"
    assert rows["hello"].parser == "word" and rows["hello"].w == "hello"
    assert rows["hello"].v is None
    assert rows["???"] is None


def test_json_parser(spark):
    df = spark.createDataFrame(
        [('{"level":"error","msg":"boom","k":87}',)], ["raw"])
    m = df.select(json_parser("raw").alias("m")).collect()[0].m
    assert m == {"level": "error", "msg": "boom", "k": "87"}
    typed = df.select(json_parser(
        "raw", "level string, msg string, k int").alias("s")
    ).collect()[0].s
    assert typed.k == 87 and typed.level == "error"


def test_ltsv_parser(spark):
    df = spark.createDataFrame([("host:h1\tlevel:warn\tcode:500",)], ["raw"])
    m = df.select(ltsv_parser("raw").alias("m")).collect()[0].m
    assert m == {"host": "h1", "level": "warn", "code": "500"}


def test_logfmt_parsers(spark):
    df = spark.createDataFrame([('level=info msg="hello world" code=200',)],
                               ["raw"])
    simple = df.select(logfmt_parser("raw").alias("m")).collect()[0].m
    assert simple["level"] == "info" and simple["code"] == "200"
    quoted = df.select(logfmt_quoted_udf()(F.col("raw")).alias("m")) \
        .collect()[0].m
    assert quoted == {"level": "info", "msg": "hello world", "code": "200"}


def test_time_formats(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:09:58.778", "1704067200", "garbage")],
        ["t1", "epoch", "bad"])
    row = df.select(
        try_strptime("t1", "%Y-%m-%d %H:%M:%S.%L").alias("a"),
        try_strptime("epoch", "%s").alias("b"),
        try_strptime("bad", "%Y-%m-%d").alias("c"),
    ).collect()[0]
    assert row.a == dt.datetime(2024, 1, 1, 0, 9, 58, 778000)
    assert row.b == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert row.c is None
    assert strptime_to_java("%d/%b/%Y:%H:%M:%S %z") == \
        "dd/MMM/yyyy:HH:mm:ss xx"


def test_fused_parser_shapes(spark):
    lines = [
        APACHE_LINE,
        '{"level": "warn", "msg": "a b", "code": 500, "k": 3}',
        "host:h2\tlevel:error\tcode:503\tmsg:x",
        'level=debug msg="q" code=301 dur_ms=12',
        "just some words here",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], ["decoded"])
    rows = {r.decoded: r for r in with_parsed(df).collect()}
    a = rows[APACHE_LINE]
    assert a.fields.kind == "apache" and a.fields.code == 200 \
        and a.fields.size == 2326 and a.parse_ok
    j = rows[lines[1]]
    assert j.fields.kind == "json" and j.fields.level == "warn" \
        and j.fields.code == 500 and j.fields.k == 3
    lt = rows[lines[2]]
    assert lt.fields.kind == "ltsv" and lt.fields.host == "h2" \
        and lt.fields.code == 503
    lf = rows[lines[3]]
    assert lf.fields.kind == "logfmt" and lf.fields.dur_ms == 12
    g = rows[lines[4]]
    assert g.fields.kind is None and not g.parse_ok


def test_arrow_pandas_parse_parity(spark, fixture_paths):
    """The Arrow-compute parse core must match the pandas reference
    implementation cell-for-cell on the full fixture line corpus."""
    import pandas as pd
    import pyarrow as pa
    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.functions.parsers import (
        _parse_arrow, _parse_batch_pandas)
    pool = fx.LinePool(2000, 42)
    v = fx.vocab()
    lines = ["".join(v[t] for t in
                     pool.values[pool.offsets[i]:pool.offsets[i]
                                 + pool.lens[i]])
             for i in range(2000)]
    lines += ["", "no shape here", "{not json}", "x=1"]
    s = pd.Series(lines)
    # Arrow ints → pandas nullable ints of the same width, so a kernel
    # column of the wrong width fails check_dtype
    ints = {pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype()}
    a = pa.table(_parse_arrow(pa.array(lines, pa.string()))).to_pandas(
        types_mapper=ints.get)
    b = _parse_batch_pandas(s)
    # normalize null spelling: arrow emits None, pandas emits NaN in
    # object columns — same value through the Arrow serializer
    for f in (a, b):
        for c in f.columns[f.dtypes == object]:
            f[c] = f[c].where(pd.notna(f[c]), None)
    pd.testing.assert_frame_equal(a, b, check_dtype=True)


def test_dlq_only_nulls_decoded_exactly_where_parsed(spark, fixture_paths):
    """keep_decoded='dlq_only' nulls ``decoded`` exactly on the parsed
    rows, keeps the independent decode on every other row, and leaves
    ``fields``, ``parse_ok`` and ``tokens`` as the 'always' run has
    them."""
    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.functions.parsers import fused_detok_parse
    from tests.oracle_pandas import decode_row
    v = fx.vocab()
    df = spark.read.parquet(fixture_paths["tokens"]).limit(2000)
    cols = ["doc_id", "tokens", "decoded", "parse_ok", "fields"]
    lean = {r.doc_id: r for r in fused_detok_parse(
        df, spark, v, keep_decoded="dlq_only").select(cols).collect()}
    full = {r.doc_id: r for r in fused_detok_parse(
        df, spark, v, keep_decoded="always").select(cols).collect()}
    assert len(lean) == 2000 and lean.keys() == full.keys()
    assert 0 < sum(r.parse_ok for r in lean.values()) < 2000
    for d, r in lean.items():
        assert (r.decoded is None) == r.parse_ok, d
        if not r.parse_ok:
            assert r.decoded == decode_row(r.tokens, v), d
        f = full[d]
        assert (r.fields, r.parse_ok, r.tokens) == \
            (f.fields, f.parse_ok, f.tokens), d


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    """Dropping the cached finder of a zip on sys.path forgets it, and a
    later import from the same zip still works."""
    import sys
    import zipfile
    from fluent_bit_spark.functions.parsers import _drop_zip_finders
    archive = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zf_first.py", "VALUE = 1\n")
        z.writestr("zf_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(archive)
    try:
        import zf_first
        assert zf_first.VALUE == 1
        assert archive in sys.path_importer_cache
        _drop_zip_finders()
        assert archive not in sys.path_importer_cache
        import zf_second
        assert zf_second.VALUE == 2
    finally:
        sys.modules.pop("zf_first", None)
        sys.modules.pop("zf_second", None)
        sys.path_importer_cache.pop(archive, None)


def test_parse_udf_leaves_no_zip_finder_in_the_worker(spark):
    """PySpark's worker makes every cached zip finder re-read its
    archive at each task start (``importlib.invalidate_caches()``). The
    parse UDF drops them, so a UDF chained after it in the same task
    finds none left."""
    from fluent_bit_spark.functions.parsers import _parse_udf

    @F.arrow_udf("in_zip boolean, finders int")
    def probe(fields: pa.Array) -> pa.Array:
        import sys
        import zipimport
        import pyspark
        in_zip = isinstance(pyspark.__spec__.loader, zipimport.zipimporter)
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in list(sys.path_importer_cache.values()))
        return pa.StructArray.from_arrays(
            [pa.array([in_zip] * len(fields)),
             pa.array([n] * len(fields), pa.int32())],
            names=["in_zip", "finders"])

    df = spark.createDataFrame([(APACHE_LINE,), ("no shape",)], ["decoded"])
    got = [r.p for r in df.coalesce(1).select(
        probe(_parse_udf()(F.col("decoded"))).alias("p")).collect()]
    if not got[0].in_zip:
        pytest.skip("the workers import pyspark from a directory")
    assert [p.finders for p in got] == [0, 0]


def test_decoder_chain_fallback_on_malformed(spark):
    """A value that is not a valid escaped payload (raw quote) must fall
    back to its input (do_next chain semantics), not go NULL."""
    from fluent_bit_spark.functions.parsers import decoder_chain
    df = spark.createDataFrame(
        [(1, r"ok\tline"), (2, 'raw " quote')], "i long, line string")
    got = {r.i: r.line
           for r in decoder_chain(df, "line", ["escaped"]).collect()}
    assert got[1] == "ok\tline"
    assert got[2] == 'raw " quote'     # malformed → original preserved


def test_decode_escaped_roundtrip_random(spark):
    """Round-trip property: json-escaping any string in Python then
    decoding with decode_escaped (JVM from_json) returns the original —
    over a seeded corpus including controls, quotes, backslashes,
    unicode, and high escapes."""
    import json as _json
    import random
    from fluent_bit_spark.functions.parsers import decode_escaped
    rng = random.Random(11)
    alphabet = 'ab"\\\n\t\r/é漢 \x01\x1f~'
    corpus = ["".join(rng.choice(alphabet)
                      for _ in range(rng.randrange(0, 40)))
              for _ in range(200)]
    escaped = [_json.dumps(s)[1:-1] for s in corpus]
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate(escaped)], "i long, e string")
    got = {r.i: r.d for r in
           df.select("i", decode_escaped("e").alias("d")).collect()}
    for i, s in enumerate(corpus):
        assert got[i] == s, (i, repr(s), repr(escaped[i]), repr(got[i]))


def test_strptime_to_java_quotes_literals():
    # Literal pattern-letter characters (ISO-8601 T / Z) must be quoted
    # or DateTimeFormatter rejects/misreads them.
    assert strptime_to_java("%Y-%m-%dT%H:%M:%SZ") == \
        "yyyy-MM-dd'T'HH:mm:ss'Z'"
    assert strptime_to_java("%Y-%m-%dT%H:%M:%S.%L%z") == \
        "yyyy-MM-dd'T'HH:mm:ss.SSSxx"
    assert strptime_to_java("%%Y") == "%'Y'"


def test_syslog_presets(spark):
    from fluent_bit_spark.functions.parsers import (
        syslog_parser, syslog_pri_decompose)
    lines = [
        ("<165>1 2024-01-02T03:04:05.123+00:00 web01 app 4242 ID47 "
         "[x a=\"1\"] Started job",),
        ("not syslog at all",),
    ]
    df = spark.createDataFrame(lines, ["line"])
    p = syslog_parser("rfc5424")
    out = apply_regex_parser(df, p, key="line", out="g")
    fac, sev = syslog_pri_decompose(F.col("g.pri"))
    rows = out.select("g", fac.alias("fac"), sev.alias("sev")).collect()
    ok = [r for r in rows if r.g is not None][0]
    assert ok.g.pri == 165 and ok.fac == 20 and ok.sev == 5
    assert ok.g.host == "web01" and ok.g.pid == 4242
    assert ok.g.message == "Started job"
    assert ok.g.time == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    assert sum(1 for r in rows if r.g is None) == 1

    df2 = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",)],
        ["line"])
    r = apply_regex_parser(df2, syslog_parser("rfc3164"),
                           key="line", out="g").collect()[0]
    assert r.g is not None and r.g.pri == 34 and r.g.host == "mymachine"
    assert r.g.ident == "su" and r.g.pid == 230
    assert r.g.message == "'su root' failed"


def test_strptime_to_java_property():
    """Property: for any strptime format built from supported directives
    and literal text, the translated Java pattern round-trips a
    datetime through java.time semantics — approximated here by
    checking structural invariants (no bare pattern letters outside
    quotes that we didn't emit, balanced quotes) and a concrete
    strftime→parse round trip for formats Python can render."""
    import re

    from hypothesis import given, settings, strategies as st

    directives = st.sampled_from(
        ["%Y", "%m", "%d", "%H", "%M", "%S", "%b", "%B", "%j", "%p"])
    literals = st.text(
        alphabet="TZ -:/.,abcXYZ'", min_size=0, max_size=4)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.one_of(directives, literals), min_size=1,
                    max_size=8))
    def check(parts):
        fmt = "".join(parts)
        out = strptime_to_java(fmt)
        # Quotes must balance (single-quote literal rule).
        assert out.count("'") % 2 == 0
        # Outside quoted runs, only pattern letters we intentionally
        # emit may appear as alphabetic characters.
        outside = re.sub(r"'[^']*'", "", out)
        assert set(c for c in outside if c.isalpha()) <= \
            set("yMdHmsSaDx"), (fmt, out)

    check()


