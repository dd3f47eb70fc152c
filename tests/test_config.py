"""Config-file front end (plans/config.py): classic-conf and YAML
configs must resolve to the same PipelineSpec, and a config-driven
pipeline run must produce byte-identical sink outputs to the
dataclass-spec run (the golden equivalence the upstream flb_cf readers
guarantee: one config API over both formats)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import fixtures as fx
from fluent_bit_spark.operators.router import RewriteTagRule, Route
from fluent_bit_spark.plans.config import (
    parse_classic, parse_yaml, spec_from_config, spec_from_tree,
)
from fluent_bit_spark.plans.pipeline import PipelineSpec, run_pipeline


def _confs(spec: PipelineSpec, name: str) -> list:
    """The confs of a spec's ``name`` filter entries, in config order."""
    return [conf for n, _, conf in spec.filters if n == name]

CLASSIC = """\
# fluent-bit classic-mode config (flb_cf classic reader subset)
[SERVICE]
    salt_buckets 32

[INPUT]
    Name   tokens
    Format tokens

[FILTER]
    Name  rewrite_tag
    Match *
    Rule  $fields.level ^error$ err.$TAG[1] true

[FILTER]
    Name       lookup
    Match      *
    File       {lookup}
    Lookup_key source

[OUTPUT]
    Name  file
    Match app.*.apache
    Sink  sink_web

[OUTPUT]
    Name  file
    Match app.*.json
    Sink  sink_json

[OUTPUT]
    Name  file
    Match app.*.ltsv
    Sink  sink_kv

[OUTPUT]
    Name  file
    Match app.*.logfmt
    Sink  sink_kv

[OUTPUT]
    Name  file
    Match app.src1.*
    Sink  sink_src1

[OUTPUT]
    Name  file
    Match err.*
    Sink  sink_errors
"""

YAML = """\
service:
  salt_buckets: 32
pipeline:
  inputs:
    - name: tokens
      format: tokens
  filters:
    - name: rewrite_tag
      match: "*"
      rule: "$fields.level ^error$ err.$TAG[1] true"
    - name: lookup
      match: "*"
      file: "{lookup}"
      lookup_key: source
  outputs:
    - name: file
      match: "app.*.apache"
      sink: sink_web
    - name: file
      match: "app.*.json"
      sink: sink_json
    - name: file
      match: "app.*.ltsv"
      sink: sink_kv
    - name: file
      match: "app.*.logfmt"
      sink: sink_kv
    - name: file
      match: "app.src1.*"
      sink: sink_src1
    - name: file
      match: "err.*"
      sink: sink_errors
"""


def reference_spec(lookup: str) -> PipelineSpec:
    """The dataclass spec both config files transcribe (jobs/
    run_pipeline.py default)."""
    return PipelineSpec(
        vocab=fx.vocab(),
        routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
        rewrite_rules=[RewriteTagRule(
            key="fields.level", pattern="^error$",
            new_tag="err.$TAG[1]", keep=True)],
        lookup_path=lookup,
    )


def test_classic_and_yaml_parse_to_same_spec(fixture_paths, tmp_path):
    lk = fixture_paths["lookup"]
    cpath = tmp_path / "pipe.conf"
    ypath = tmp_path / "pipe.yaml"
    cpath.write_text(CLASSIC.format(lookup=lk))
    ypath.write_text(YAML.format(lookup=lk))
    spec_c, io_c = spec_from_config(str(cpath))
    spec_y, io_y = spec_from_config(str(ypath))
    assert spec_c == spec_y
    assert io_c == io_y
    ref = reference_spec(lk)
    assert spec_c.routes == ref.routes
    for name in ("rewrite_tag", "lookup"):
        assert _confs(spec_c, name) == _confs(ref, name)
    assert spec_c.vocab == ref.vocab
    assert io_c["input_format"] == "tokens"
    # routes keep config order; duplicate sinks collapse in sink list
    assert io_c["outputs"] == ["sink_web", "sink_json", "sink_kv",
                               "sink_kv", "sink_src1", "sink_errors"]


def test_config_run_matches_dataclass_run(spark, fixture_paths, tmp_path):
    """E2E golden: the YAML-driven pipeline writes exactly the row sets
    the dataclass-spec pipeline writes, sink by sink, plus equal DLQ."""
    lk = fixture_paths["lookup"]
    ypath = tmp_path / "pipe.yaml"
    ypath.write_text(YAML.format(lookup=lk))
    spec_y, _ = spec_from_config(str(ypath))
    out_y = str(tmp_path / "out_yaml")
    out_r = str(tmp_path / "out_ref")
    run_pipeline(spark, spec_y, fixture_paths["tokens"], out_y)
    run_pipeline(spark, reference_spec(lk), fixture_paths["tokens"], out_r)
    for sink in ("sink_web", "sink_json", "sink_kv", "sink_src1",
                 "sink_errors"):
        a = sorted(r.doc_id for r in spark.read.parquet(
            f"{out_y}/sinks/{sink}").select("doc_id").collect())
        b = sorted(r.doc_id for r in spark.read.parquet(
            f"{out_r}/sinks/{sink}").select("doc_id").collect())
        assert a == b and a, sink
    da = spark.read.parquet(f"{out_y}/dlq").count()
    db = spark.read.parquet(f"{out_r}/dlq").count()
    assert da == db > 0


def test_grep_properties_accumulate():
    tree = parse_classic("""
[INPUT]
    Name tokens
[FILTER]
    Name grep
    Match *
    Regex decoded GET
    Regex source src
    Exclude decoded DELETE
    Logical_Op OR
[OUTPUT]
    Name file
    Match *
    Sink all
""")
    spec, _ = spec_from_tree(tree, vocab=["a"])
    [(rules, op)] = _confs(spec, "grep")
    assert [(g.key, g.pattern, g.exclude) for g in rules] == [
        ("decoded", "GET", False), ("source", "src", False),
        ("decoded", "DELETE", True)]
    assert op == "OR"


def test_grep_pattern_keeps_spaces():
    tree = parse_classic("""
[INPUT]
    Name tokens
[FILTER]
    Name grep
    Match *
    Regex decoded GET /index.html 200
[OUTPUT]
    Name file
    Match *
    Sink all
""")
    spec, _ = spec_from_tree(tree, vocab=["a"])
    assert _confs(spec, "grep")[0][0][0].pattern == "GET /index.html 200"


def test_service_keep_decoded_accepts_only_always_and_dlq_only():
    """``[SERVICE] keep_decoded`` is ``always`` or ``dlq_only``; any
    other value (the retired ``auto``, a typo) raises instead of
    silently meaning ``always``."""
    conf = ("[SERVICE]\n    keep_decoded {}\n[INPUT]\n    Name tokens\n"
            "[OUTPUT]\n    Match *\n")
    spec, _ = spec_from_tree(parse_classic(conf.format("dlq_only")),
                             vocab=["a"])
    assert spec.keep_decoded == "dlq_only"
    for bad in ("auto", "dlq-only"):
        with pytest.raises(ValueError, match="keep_decoded"):
            spec_from_tree(parse_classic(conf.format(bad)), vocab=["a"])


def test_config_errors():
    with pytest.raises(ValueError, match="unknown config section"):
        parse_classic("[WEIRD]\n    Name x\n")
    with pytest.raises(ValueError, match="no \\[OUTPUT\\]"):
        spec_from_tree(parse_classic("[INPUT]\n    Name tokens\n"),
                       vocab=["a"])
    for name in ("kafka", "gopher_quality"):
        with pytest.raises(ValueError, match="unsupported filter"):
            spec_from_tree(parse_classic(
                f"[FILTER]\n    Name {name}\n[OUTPUT]\n    Match *\n"),
                vocab=["a"])
    with pytest.raises(ValueError, match="4 fields"):
        spec_from_tree(parse_classic(
            "[FILTER]\n    Name rewrite_tag\n    Rule $k x\n"
            "[OUTPUT]\n    Match *\n"), vocab=["a"])
    with pytest.raises(ValueError, match="share one format"):
        spec_from_tree(parse_yaml("""
pipeline:
  outputs:
    - {name: file, match: "a.*", format: parquet}
    - {name: file, match: "b.*", format: json_lines}
"""), vocab=["a"])


def test_vocab_parquet_property(fixture_paths):
    tree = parse_classic(f"""
[INPUT]
    Name tokens
    Vocab_parquet {fixture_paths['vocab']}
[OUTPUT]
    Name file
    Match *
    Sink all
""")
    spec, _ = spec_from_tree(tree)
    assert spec.vocab == fx.vocab()


def test_tail_input_infers_text_format():
    tree = parse_yaml("""
pipeline:
  inputs:
    - name: tail
      path: /var/log/app/*.log
  outputs:
    - name: file
      match: "*"
      sink: all
""")
    _, io = spec_from_tree(tree, vocab=["a"])
    assert io["input_format"] == "text"
    assert io["input_path"] == "/var/log/app/*.log"


def test_meta_include_set_and_env_translation(tmp_path, monkeypatch):
    """@INCLUDE splices (glob, sorted), @SET defines variables, ${VAR}
    translates in property values — @SET wins over the process env,
    unknown vars become empty (flb_env semantics)."""
    from fluent_bit_spark.plans.config import spec_from_config
    (tmp_path / "filters.conf").write_text(
        "[FILTER]\n    Name grep\n    Regex level ${LEVEL_PAT}\n")
    (tmp_path / "out_a.conf").write_text(
        "[OUTPUT]\n    Name file\n    Match app.${TIER}.*\n    Sink a\n")
    (tmp_path / "out_b.conf").write_text(
        "[OUTPUT]\n    Name file\n    Match sys.*\n    Sink b\n")
    main = tmp_path / "main.conf"
    main.write_text(
        "@SET LEVEL_PAT=^(error|warn)$\n"
        "[SERVICE]\n    salt_buckets 8\n"
        "[INPUT]\n    Name tokens\n"
        "@INCLUDE filters.conf\n"
        "@INCLUDE out_*.conf\n")
    monkeypatch.setenv("TIER", "web")
    spec, io = spec_from_config(str(main), vocab=["x"])
    assert spec.salt_buckets == 8
    assert [(r.key, r.pattern) for r in _confs(spec, "grep")[0][0]] == [
        ("level", "^(error|warn)$")]
    # glob order is sorted → a before b; env var translated in Match
    assert [(r.sink, r.pattern) for r in spec.routes] == [
        ("a", "app.web.*"), ("b", "sys.*")]


def test_meta_set_wins_over_env_and_unknown_is_empty(tmp_path,
                                                     monkeypatch):
    from fluent_bit_spark.plans.config import parse_classic, resolve_meta
    f = tmp_path / "c.conf"
    f.write_text("@SET K=fromset\n[INPUT]\n    Name tokens\n"
                 "    Tag_expr '${K}${NOPE}'\n")
    monkeypatch.setenv("K", "fromenv")
    lines, variables = resolve_meta(str(f))
    tree = parse_classic("\n".join(lines), variables)
    assert tree["pipeline"]["inputs"][0]["tag_expr"] == "'fromset'"


def test_meta_errors(tmp_path):
    from fluent_bit_spark.plans.config import resolve_meta
    import pytest as _pytest
    bad = tmp_path / "bad.conf"
    bad.write_text("@FROB x\n")
    with _pytest.raises(ValueError, match="unknown meta command"):
        resolve_meta(str(bad))
    missing = tmp_path / "missing.conf"
    missing.write_text("@INCLUDE nothing_here_*.conf\n")
    with _pytest.raises(ValueError, match="matched no files"):
        resolve_meta(str(missing))
    a = tmp_path / "a.conf"
    b = tmp_path / "b.conf"
    a.write_text("@INCLUDE b.conf\n")
    b.write_text("@INCLUDE a.conf\n")
    with _pytest.raises(ValueError, match="cycle"):
        resolve_meta(str(a))


def test_yaml_env_translation(monkeypatch):
    from fluent_bit_spark.plans.config import parse_yaml
    monkeypatch.setenv("SINKDIR", "webdir")
    tree = parse_yaml("""
pipeline:
  inputs:
    - name: tokens
  outputs:
    - name: file
      match: "*"
      sink: ${SINKDIR}
""")
    assert tree["pipeline"]["outputs"][0]["sink"] == "webdir"


def test_parser_sections_and_filter_parser(tmp_path):
    """[PARSER] blocks + [FILTER] Name parser → ParserFilterSpec with a
    first-match chain; Types pairs become type hints; Parsers_File
    loads a separate classic-mode file (the standard deployment
    shape)."""
    from fluent_bit_spark.plans.config import spec_from_config
    (tmp_path / "parsers.conf").write_text("""
[PARSER]
    Name kv_num
    Format regex
    Regex ^(?P<k>\\w+)=(?P<n>\\d+)$
    Types n:integer
""")
    (tmp_path / "main.conf").write_text("""
[SERVICE]
    Parsers_File parsers.conf
[INPUT]
    Name tokens
[PARSER]
    Name word
    Format regex
    Regex ^(?P<w>[a-z]+)$
[FILTER]
    Name parser
    Key_Name decoded
    Parser kv_num
    Parser word
[OUTPUT]
    Name file
    Match *
    Sink all
""")
    spec, _ = spec_from_config(str(tmp_path / "main.conf"), vocab=["x"])
    [pf] = _confs(spec, "parser")
    assert pf.key == "decoded"
    assert [p.name for p in pf.parsers] == ["kv_num", "word"]
    assert pf.parsers[0].types == {"n": "integer"}
    assert pf.out == "parsed_kv_num"


def test_parser_filter_runs_in_pipeline(spark):
    """The config-declared second-stage parser actually re-parses rows
    in _post_parse_stages: first match wins, typed fields extracted."""
    from fluent_bit_spark.functions.parsers import RegexParser
    from fluent_bit_spark.operators.router import Route
    from fluent_bit_spark.plans.filters import ParserFilterSpec
    from fluent_bit_spark.plans.pipeline import (PipelineSpec,
                                                 _post_parse_stages)
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        [("d1", "count=42", "s1", True), ("d2", "hello", "s1", True),
         ("d3", "x=notnum", "s1", True)],
        "doc_id string, decoded string, source string, parse_ok boolean"
    ).withColumn("fields", F.expr("named_struct('kind', 'raw')"))
    spec = PipelineSpec(
        vocab=["x"], routes=[Route("all", "*")],
        filters=[("parser", None, ParserFilterSpec(
            key="decoded",
            parsers=[RegexParser("kv", r"^(?P<k>\w+)=(?P<n>\d+)$",
                                 types={"n": "integer"}),
                     RegexParser("word", r"^(?P<w>[a-z]+)$")],
            out="p"))])
    out = _post_parse_stages(spark, df, spec)
    rows = {r.doc_id: r.p for r in out.select("doc_id", "p").collect()}
    assert rows["d1"].k == "count" and rows["d1"].n == 42 \
        and rows["d1"].parser == "kv"
    assert rows["d2"].w == "hello" and rows["d2"].parser == "word"
    assert rows["d3"] is None


def test_parser_filter_unknown_ref_and_reserve_off_raise(tmp_path):
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    import pytest as _pytest
    base = ("[INPUT]\n    Name tokens\n[FILTER]\n    Name parser\n"
            "    Key_Name decoded\n    Parser nope\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink all\n")
    with _pytest.raises(ValueError, match="unknown parser"):
        spec_from_tree(parse_classic(base), vocab=["x"])
    rsv = base.replace("    Parser nope\n",
                       "    Parser p\n    Reserve_Data Off\n") + (
        "[PARSER]\n    Name p\n    Format regex\n    Regex ^(?P<a>.)$\n")
    with _pytest.raises(ValueError, match="Reserve_Data Off"):
        spec_from_tree(parse_classic(rsv), vocab=["x"])


def test_modify_filter_from_config(spark):
    """[FILTER] Name modify: Condition-gated Set/Rename/Copy rules run
    in _post_parse_stages on the real stage chain."""
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    from fluent_bit_spark.plans.pipeline import _post_parse_stages
    import pyspark.sql.functions as F
    tree = parse_classic("""
[INPUT]
    Name tokens
[FILTER]
    Name modify
    Condition Key_value_equals level error
    Set alert page_oncall
    Copy level level_copy
[OUTPUT]
    Name file
    Match *
    Sink all
""")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    assert len(_confs(spec, "modify")) == 1
    df = spark.createDataFrame(
        [("d1", "error", "s1", True), ("d2", "info", "s1", True)],
        "doc_id string, level string, source string, parse_ok boolean"
    ).withColumn("fields", F.expr("named_struct('kind', 'raw')"))
    out = _post_parse_stages(spark, df, spec)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows["d1"].alert == "page_oncall" and rows["d2"].alert is None
    # copy is unconditional-structural but value rides every row
    assert rows["d1"].level_copy == "error"


def test_modify_filter_reserved_columns_raise():
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    import pytest as _pytest
    base = ("[INPUT]\n    Name tokens\n[FILTER]\n    Name modify\n"
            "    {rule}\n[OUTPUT]\n    Name file\n    Match *\n"
            "    Sink all\n")
    for rule in ("Set tokens oops", "Remove source",
                 "Rename extra tag", "Remove_regex ^tok",
                 "Hard_copy doc_id tag"):
        with _pytest.raises(ValueError, match="reserved"):
            spec_from_tree(parse_classic(base.format(rule=rule)),
                           vocab=["x"])


@pytest.mark.parametrize("prop", ["Record tokens x", "Remove_key doc_id"])
def test_record_modifier_reserved_columns_raise(prop):
    """record_modifier writes through the same rules as modify, so it
    may not overwrite or drop a reserved column either."""
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    conf = ("[INPUT]\n    Name tokens\n[FILTER]\n    Name record_modifier\n"
            f"    Match *\n    {prop}\n[OUTPUT]\n    Name file\n"
            "    Match *\n    Sink all\n")
    with pytest.raises(ValueError, match="may not target reserved column"):
        spec_from_tree(parse_classic(conf), vocab=["x"])


def test_lookup_filter_without_a_file_raises():
    """A lookup block that names no dim is an error, not a filter that
    joins nothing."""
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    conf = ("[INPUT]\n    Name tokens\n[FILTER]\n    Name lookup\n"
            "    Match *\n    Lookup_key source\n[OUTPUT]\n"
            "    Name file\n    Match *\n    Sink all\n")
    with pytest.raises(ValueError, match="File"):
        spec_from_tree(parse_classic(conf), vocab=["x"])


def test_streams_file_tasks(spark, fixture_paths, tmp_path):
    """[SERVICE] Streams_File -> [STREAM_TASK] sections (upstream:
    src/stream_processor/flb_sp.c): the config front end loads the
    tasks, and executing them over the pipeline's tagged frame equals
    the direct Spark computation."""
    from fluent_bit_spark.plans.pipeline import build_stages
    from fluent_bit_spark.plans.sql_shim import StreamProcessor

    streams = tmp_path / "streams.conf"
    streams.write_text(
        "[STREAM_TASK]\n"
        "    Name  per_tag\n"
        "    Exec  SELECT RECORD_TAG() AS tag, COUNT(*) AS c, "
        "CAST(SUM(n_tok) AS BIGINT) AS s FROM TAG:'app.*' "
        "GROUP BY RECORD_TAG();\n"
        "\n"
        "[STREAM_TASK]\n"
        "    Name  errs\n"
        "    Exec  SELECT COUNT(*) AS c FROM TAG:'err.*';\n")
    conf = tmp_path / "pipe.conf"
    conf.write_text(
        CLASSIC.format(lookup=fixture_paths["lookup"])
        + f"\n[SERVICE]\n    Streams_File {streams}\n")
    spec, io = spec_from_config(str(conf))
    assert [n for n, _ in io["stream_tasks"]] == ["per_tag", "errs"]

    df = spark.read.parquet(fixture_paths["tokens"])
    tagged = build_stages(spark, df, spec)
    sp = StreamProcessor(spark, tagged=tagged, tag_col="tag")
    name, sql = io["stream_tasks"][0]
    got = {(r.tag, r.c, r.s) for r in sp.sql(sql).collect()}
    want = {(r.tag, r.c, r.s) for r in
            (tagged.filter(F.col("tag").startswith("app."))
             .groupBy("tag")
             .agg(F.count("*").alias("c"),
                  F.sum("n_tok").cast("long").alias("s"))).collect()}
    assert got == want and len(got) > 2
    # second task: err.* re-tagged copies exist in the fixture
    assert sp.sql(io["stream_tasks"][1][1]).collect()[0].c > 0


def test_stream_task_missing_exec_raises(tmp_path):
    from fluent_bit_spark.plans.config import parse_classic, stream_tasks
    tree = parse_classic("[STREAM_TASK]\n    Name broken\n")
    with pytest.raises(ValueError, match="missing Exec"):
        stream_tasks(tree)


def test_record_modifier_and_nest_filters(spark, fixture_paths, tmp_path):
    """[FILTER] record_modifier (Record/Remove_key via ModifySpec) and
    [FILTER] nest Operation lift (flatten the parsed struct) from a
    classic config, run through the real pipeline stages."""
    from fluent_bit_spark.plans.pipeline import build_stages

    conf = tmp_path / "rm.conf"
    conf.write_text(
        "[INPUT]\n    Name tokens\n    Format tokens\n\n"
        "[FILTER]\n    Name  record_modifier\n    Match *\n"
        "    Record cluster us-east-1\n"
        "    Record stage  prod\n\n"
        "[FILTER]\n    Name nest\n    Match *\n"
        "    Operation  lift\n    Nested_under fields\n"
        "    Add_prefix f_\n\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink sink_all\n")
    spec, _ = spec_from_config(str(conf))
    df = spark.read.parquet(fixture_paths["tokens"]).limit(200)
    out = build_stages(spark, df, spec)
    assert "cluster" in out.columns and "stage" in out.columns
    # lifted struct fields appear with the prefix; original struct gone
    assert any(c.startswith("f_") for c in out.columns)
    assert "fields" not in out.columns
    row = out.filter(F.col("cluster").isNotNull()).first()
    assert row["cluster"] == "us-east-1" and row["stage"] == "prod"


def test_record_modifier_allowlist_rejected(tmp_path):
    conf = tmp_path / "al.conf"
    conf.write_text(
        "[INPUT]\n    Name tokens\n\n"
        "[FILTER]\n    Name record_modifier\n    Match *\n"
        "    Allowlist_key doc_id\n\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    with pytest.raises(ValueError, match="Allowlist_key"):
        spec_from_config(str(conf))


def test_nest_operation_validation(tmp_path):
    conf = tmp_path / "n.conf"
    conf.write_text(
        "[INPUT]\n    Name tokens\n\n"
        "[FILTER]\n    Name nest\n    Match *\n    Operation sideways\n\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    with pytest.raises(ValueError, match="nest|lift"):
        spec_from_config(str(conf))


def test_yaml_stream_tasks(tmp_path):
    """YAML parity for [STREAM_TASK]: a top-level stream_tasks list."""
    y = tmp_path / "p.yaml"
    y.write_text(
        "pipeline:\n"
        "  inputs:\n    - name: tokens\n"
        "  outputs:\n    - name: file\n      match: '*'\n      sink: s\n"
        "stream_tasks:\n"
        "  - name: t1\n"
        "    exec: SELECT COUNT(*) AS c FROM TAG:'app.*';\n")
    _, io = spec_from_config(str(y))
    assert io["stream_tasks"] == [("t1",
                                   "SELECT COUNT(*) AS c FROM TAG:'app.*';")]


def test_nest_repeated_wildcards(spark):
    """Upstream filter_nest accepts REPEATED Wildcard lines — every
    pattern must be honored, not last-one-wins."""
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name nest\n    Match *\n"
        "    Operation nest\n"
        "    Wildcard lvl_*\n"
        "    Wildcard extra\n"
        "    Nest_under meta\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    assert _confs(spec, "nest") == [("nest", {
        "wildcard": ["lvl_*", "extra"], "nest_under": "meta",
        "remove_prefix": "", "add_prefix": ""})]
    from fluent_bit_spark.operators.nest import nest
    df = spark.createDataFrame(
        [("d1", "a", "b", "c")],
        "doc_id string, lvl_one string, extra string, keepme string")
    out = nest(df, **_confs(spec, "nest")[0][1])
    assert set(out.columns) == {"doc_id", "keepme", "meta"}
    r = out.first()
    assert r.meta.lvl_one == "a" and r.meta.extra == "b"
    assert r.keepme == "c"


def test_type_converter_filter_from_config(spark):
    """[FILTER] type_converter: repeatable <T>_key SRC DST lines with
    try_cast semantics (bad value → null, record survives); config run
    equals the direct operator call."""
    from fluent_bit_spark.operators.filters import type_convert
    from fluent_bit_spark.plans.pipeline import _post_parse_stages
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name type_converter\n    Match *\n"
        "    int_key   code  code_i\n"
        "    float_key ratio ratio_f\n"
        "    str_key   n_tok n_str\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    # grouped by kind, not config line order — conversions are
    # independent (distinct dst columns), so order is immaterial
    [convs] = _confs(spec, "type_converter")
    assert set(convs) == {("code", "code_i", "int"),
                                          ("ratio", "ratio_f", "float"),
                                          ("n_tok", "n_str", "string")}
    df = spark.createDataFrame(
        [("d1", "200", "0.5", 7, "s1", True),
         ("d2", "oops", "x", 3, "s1", True)],
        "doc_id string, code string, ratio string, n_tok int, "
        "source string, parse_ok boolean"
    ).withColumn("fields", F.expr("named_struct('kind', 'raw')"))
    out = _post_parse_stages(spark, df, spec)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows["d1"].code_i == 200 and abs(rows["d1"].ratio_f - 0.5) < 1e-9
    assert rows["d2"].code_i is None and rows["d2"].ratio_f is None
    assert rows["d1"].n_str == "7"
    # parity with the direct operator on the same frame
    want = {(r.doc_id, r.code_i, r.n_str) for r in
            type_convert(df, convs).collect()}
    got = {(r.doc_id, r.code_i, r.n_str) for r in out.collect()}
    assert got == want


def test_sampling_filter_from_config(spark, fixture_paths):
    """[FILTER] sampling: config run keeps exactly the rows the direct
    deterministic_sample call keeps."""
    from fluent_bit_spark.operators.filters import deterministic_sample
    from fluent_bit_spark.plans.pipeline import build_stages
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[FILTER]\n    Name sampling\n    Match *\n"
        "    Key  doc_id\n    Rate 3\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree)
    assert _confs(spec, "sampling") == [("doc_id", 3)]
    df = spark.read.parquet(fixture_paths["tokens"]).limit(300)
    got = {r.doc_id for r in build_stages(spark, df, spec)
           .select("doc_id").collect()}
    base = spec_from_tree(parse_classic(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"))[0]
    all_rows = build_stages(spark, df, base)
    want = {r.doc_id for r in
            deterministic_sample(all_rows, "doc_id", 3)
            .select("doc_id").collect()}
    assert got == want and 0 < len(got) < 300


def test_throttle_filter_from_config_slice_window(spark, fixture_paths):
    """[FILTER] throttle without Ts_key: at most Rate×Window rows per
    tag per slice, deterministic keep order; config run equals the
    direct operator call."""
    from fluent_bit_spark.operators.throttle import throttle
    from fluent_bit_spark.plans.pipeline import build_stages
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[FILTER]\n    Name throttle\n    Match *\n"
        "    Rate   4\n    Window 2\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree)
    assert _confs(spec, "throttle") == [
        {"rate": 8, "keys": ["tag"], "ts_key": None}]
    df = spark.read.parquet(fixture_paths["tokens"]).limit(500)
    out = build_stages(spark, df, spec)
    counts = {r.tag: r.c for r in
              out.groupBy("tag").agg(F.count("*").alias("c")).collect()}
    assert counts and max(counts.values()) <= 8
    base = spec_from_tree(parse_classic(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"))[0]
    tagged = build_stages(spark, df, base)
    want = {r.doc_id for r in
            throttle(tagged, 8, ["tag"], ts_col=None,
                     tiebreak=["doc_id"]).select("doc_id").collect()}
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == want


def test_throttle_filter_from_config_time_window(spark):
    """[FILTER] throttle with Ts_key: Rate×Window rows per
    Window×Interval time bucket (flb's pane-averaged limit)."""
    from datetime import datetime, timezone
    from fluent_bit_spark.plans.pipeline import _post_parse_stages
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name throttle\n    Match *\n"
        "    Rate     2\n    Window   3\n    Interval 10s\n"
        "    Ts_key   ts\n    Keys     source\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    assert _confs(spec, "throttle") == [
        {"rate": 6, "keys": ["source"], "ts_key": "ts",
         "interval": "30 seconds"}]
    rows = [(f"d{i:02d}", "s1", True,
             datetime(2024, 1, 1, 0, 0, i, tzinfo=timezone.utc))
            for i in range(40)]  # 40 rows in 40s: buckets of 30s
    df = (spark.createDataFrame(
        rows, "doc_id string, source string, parse_ok boolean, "
              "ts timestamp")
        .withColumn("fields", F.expr("named_struct('kind', 'raw')")))
    out = _post_parse_stages(spark, df, spec)
    kept = sorted(r.doc_id for r in out.collect())
    # bucket [00:00:00,00:00:30) keeps d00..d05; [00:00:30,...) d30..d35
    assert kept == [f"d{i:02d}" for i in (0, 1, 2, 3, 4, 5,
                                          30, 31, 32, 33, 34, 35)]


def test_new_filter_config_errors(tmp_path):
    base = ("[INPUT]\n    Name tokens\n[FILTER]\n{body}\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    cases = [
        ("    Name throttle\n    Window 5", "needs Rate"),
        ("    Name type_converter", "no <T>_key"),
        ("    Name type_converter\n    int_key onlyone", "SRC DST"),
        ("    Name type_converter\n    int_key code tokens", "reserved"),
        ("    Name sampling\n    Rate 0", "Rate >= 1"),
        ("    Name throttle\n    Rate 1\n    Ts_key ts\n"
         "    Interval fortnight", "Interval"),
    ]
    for body, msg in cases:
        with pytest.raises(ValueError, match=msg):
            spec_from_tree(parse_classic(base.format(body=body)),
                           vocab=["x"])


def test_multiline_filter_from_config(spark, tmp_path):
    """[FILTER] Name multiline (upstream:plugins/filter_multiline):
    java stack-trace lines join into one logical event before parsing,
    through the real text pipeline with the ordered read; the joined
    set equals the direct multiline_preset call."""
    from fluent_bit_spark.operators.multiline import multiline_preset
    from fluent_bit_spark.plans.pipeline import (build_stages_text,
                                                 read_text_ordered)
    log = tmp_path / "app1.log"
    log.write_text(
        "2024-01-01 ok startup complete\n"
        "2024-01-01 ERROR boom\n"
        "\tat com.example.Main(Main.java:5)\n"
        "\tat com.example.Run(Run.java:9)\n"
        "Caused by: java.io.IOException\n"
        "\tat com.example.IO(IO.java:1)\n"
        "2024-01-01 ok recovered\n")
    tree = parse_classic(
        "[INPUT]\n    Name tail\n    Path *.log\n"
        "[FILTER]\n    Name multiline\n    Match *\n"
        "    multiline.key_content decoded\n"
        "    multiline.parser java\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, io = spec_from_tree(tree)
    assert spec.multiline_parser == "java" and io["input_format"] == "text"
    ordered = read_text_ordered(spark, str(log))
    out = build_stages_text(spark, ordered, spec)
    got = sorted(r.decoded for r in out.select("decoded").collect())
    direct = multiline_preset(
        ordered.select(F.lit("f").alias("f"), "line_no",
                       F.col("value").alias("decoded")),
        "java", "f", "line_no", "decoded")
    want = sorted(r.event for r in direct.collect())
    assert got == want and len(got) == 3
    joined = [ln for ln in got if "\n" in ln]
    assert len(joined) == 1 and joined[0].count("\n") == 4


def test_multiline_filter_validation():
    base = ("[INPUT]\n    Name tokens\n[FILTER]\n    Name multiline\n"
            "{prop}\n[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    with pytest.raises(ValueError, match="multiline.parser"):
        spec_from_tree(parse_classic(base.format(prop="    Match *")),
                       vocab=["x"])
    with pytest.raises(ValueError, match="multiline.parser"):
        spec_from_tree(parse_classic(base.format(
            prop="    multiline.parser perl")), vocab=["x"])
    with pytest.raises(ValueError, match="key_content"):
        spec_from_tree(parse_classic(base.format(
            prop="    multiline.parser java\n"
                 "    multiline.key_content custom")), vocab=["x"])


def test_multiline_without_ordered_read_raises(spark, tmp_path):
    from fluent_bit_spark.plans.pipeline import build_stages_text
    log = tmp_path / "x.log"
    log.write_text("a\nb\n")
    tree = parse_classic(
        "[INPUT]\n    Name tail\n    Path *.log\n"
        "[FILTER]\n    Name multiline\n    Match *\n"
        "    multiline.parser java\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree)
    with pytest.raises(ValueError, match="ordered"):
        build_stages_text(spark, spark.read.text(str(log)), spec)


def test_stream_task_pack_verb(spark, fixture_paths, tmp_path):
    """A [STREAM_TASK] Exec can drive the token pipeline: PACK over the
    pipeline's tagged frame equals the direct pack_sequences call on
    the same rows (config → SQL shim → operators/tokens.py)."""
    from pyspark.sql import functions as FF
    from fluent_bit_spark.operators.tokens import pack_sequences
    from fluent_bit_spark.plans.pipeline import build_stages
    from fluent_bit_spark.plans.sql_shim import StreamProcessor

    streams = tmp_path / "streams.conf"
    streams.write_text(
        "[STREAM_TASK]\n"
        "    Name  packed\n"
        "    Exec  PACK TAG:'app.*' INTO 128 TOKENS "
        "ORDER BY HASH(doc_id);\n")
    conf = tmp_path / "pipe.conf"
    conf.write_text(
        CLASSIC.format(lookup=fixture_paths["lookup"])
        + f"\n[SERVICE]\n    Streams_File {streams}\n")
    spec, io = spec_from_config(str(conf))
    df = spark.read.parquet(fixture_paths["tokens"]).limit(800)
    tagged = build_stages(spark, df, spec)
    sp = StreamProcessor(spark, tagged=tagged, tag_col="tag")
    name, sql = io["stream_tasks"][0]
    got = sp.sql(sql)
    src = tagged.filter(FF.col("tag").startswith("app."))
    from fluent_bit_spark.operators.tokens import hash_order_bucket_width
    want = pack_sequences(
        src.withColumn("__okey", FF.xxhash64("doc_id")),
        ctx_len=128, order_col="__okey", tiebreak_col="doc_id",
        group_size=hash_order_bucket_width(src.count()))
    key = lambda r: (r["source"], r["chunk_id"])
    g = {key(r): r["tokens"] for r in got.collect()}
    w = {key(r): r["tokens"] for r in want.collect()}
    assert g == w and len(g) > 0


def test_new_filters_yaml_classic_parity():
    """The round-4 filters resolve identically from classic and YAML
    configs (the one-config-API contract)."""
    classic = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name throttle\n    Match *\n"
        "    Rate 4\n    Window 2\n"
        "[FILTER]\n    Name type_converter\n    Match *\n"
        "    int_key code code_i\n    str_key n_tok n_str\n"
        "[FILTER]\n    Name sampling\n    Match *\n"
        "    Key doc_id\n    Rate 5\n"
        "[FILTER]\n    Name multiline\n    Match *\n"
        "    multiline.parser cri\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"
        "    Format csv\n")
    yaml_tree = parse_yaml("""
pipeline:
  inputs:
    - {name: tokens}
  filters:
    - {name: throttle, match: "*", rate: 4, window: 2}
    - name: type_converter
      match: "*"
      int_key: ["code code_i"]
      str_key: ["n_tok n_str"]
    - {name: sampling, match: "*", key: doc_id, rate: 5}
    - {name: multiline, match: "*", multiline.parser: cri}
  outputs:
    - {name: file, match: "*", sink: s, format: csv}
""")
    sc, _ = spec_from_tree(classic, vocab=["x"])
    sy, _ = spec_from_tree(yaml_tree, vocab=["x"])
    assert sc == sy
    assert _confs(sc, "throttle") == [{"rate": 8, "keys": ["tag"],
                                       "ts_key": None}]
    assert set(_confs(sc, "type_converter")[0]) == {
        ("code", "code_i", "int"), ("n_tok", "n_str", "string")}
    assert _confs(sc, "sampling") == [("doc_id", 5)]
    assert sc.multiline_parser == "cri"
    assert sc.sink_format == "csv"


def test_input_multiline_parser_property():
    """[INPUT] multiline.parser (the in_tail posture) sets the same
    spec field as the filter form; both at once raises (one joiner)."""
    tree = parse_classic(
        "[INPUT]\n    Name tail\n    Path x.log\n"
        "    multiline.parser docker\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    assert spec.multiline_parser == "docker"
    with pytest.raises(ValueError, match="one \\[FILTER\\] multiline|"
                                         "multiline"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tail\n    multiline.parser docker\n"
            "[FILTER]\n    Name multiline\n    Match *\n"
            "    multiline.parser java\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
            vocab=["x"])
    with pytest.raises(ValueError, match="multiline.parser"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tail\n    multiline.parser perl\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
            vocab=["x"])


def _tiny_frame(spark):
    """Minimal post-parse-shaped frame for filter-stage tests."""
    return spark.createDataFrame(
        [("d1", "auth", 7, "s1", True),
         ("d2", "AUTH", 3, "s2", True),
         ("d3", None, 5, "s3", True)],
        "doc_id string, kind string, n_tok int, source string, "
        "parse_ok boolean"
    ).withColumn("fields", F.expr("named_struct('kind', 'raw')"))


def test_expect_filter_from_config(spark):
    """[FILTER] expect: rules AND together; action result_key stamps a
    boolean, action exit fails the job on a violating row (upstream
    plugins/filter_expect semantics); config run equals the direct
    operator call."""
    from fluent_bit_spark.operators.filters import expect
    from fluent_bit_spark.plans.pipeline import _post_parse_stages
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name expect\n    Match *\n"
        "    key_exists   kind\n"
        "    key_val_eq   source s1\n"
        "    action       result_key\n"
        "    result_key   ok\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    assert _confs(spec, "expect") == [{
        "cond": "(kind) IS NOT NULL AND CAST((source) AS STRING) = 's1'",
        "action": "result_key", "result_key": "ok"}]
    df = _tiny_frame(spark)
    rows = {r.doc_id: r.ok for r in
            _post_parse_stages(spark, df, spec).collect()}
    assert rows == {"d1": True, "d2": False, "d3": False}
    want = {r.doc_id: r.ok for r in
            expect(df, F.expr(_confs(spec, "expect")[0]["cond"]),
                   action="result_key", result_key="ok").collect()}
    assert rows == want
    # action exit: violating row aborts at execution time
    tree_exit = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name expect\n    Match *\n"
        "    key_exists kind\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec_exit, _ = spec_from_tree(tree_exit, vocab=["x"])
    out = _post_parse_stages(spark, df, spec_exit)
    with pytest.raises(Exception, match="expect failed"):
        out.collect()
    # ...and passes when every row satisfies the rule
    ok = _post_parse_stages(spark, df.filter("kind IS NOT NULL"),
                            spec_exit)
    assert ok.count() == 2


def test_checklist_filter_from_config(spark, tmp_path):
    """[FILTER] checklist: one-value-per-line File broadcast against
    Lookup_key; Action flag stamps ``matched`` + applies Record sets on
    hit (upstream behavior); keep/drop are the semi/anti extensions;
    Ignore_case folds both sides."""
    from fluent_bit_spark.operators.enrich import checklist_flag
    from fluent_bit_spark.plans.pipeline import _post_parse_stages
    lst = tmp_path / "vals.txt"
    lst.write_text("auth\n")
    base = ("[INPUT]\n    Name tokens\n"
            "[FILTER]\n    Name checklist\n    Match *\n"
            "    File       {path}\n"
            "    Lookup_key kind\n{extra}"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    df = _tiny_frame(spark)

    # Action flag (default) + Record sets on hit
    spec, _ = spec_from_tree(parse_classic(base.format(
        path=lst, extra="    Record flagged yes\n")), vocab=["x"])
    assert _confs(spec, "checklist") == [{
        "path": str(lst), "lookup_key": "kind", "action": "flag",
        "ignore_case": False, "sets": [("flagged", "yes")]}]
    rows = {r.doc_id: (r.matched, r.flagged) for r in
            _post_parse_stages(spark, df, spec).collect()}
    assert rows == {"d1": (True, "yes"), "d2": (False, None),
                    "d3": (False, None)}
    want = {r.doc_id: r.matched for r in
            checklist_flag(df, spark.read.text(str(lst)), "kind",
                           list_key="value").collect()}
    assert {k: v[0] for k, v in rows.items()} == want

    # Ignore_case folds the list and the key
    spec_ci, _ = spec_from_tree(parse_classic(base.format(
        path=lst, extra="    Ignore_case on\n")), vocab=["x"])
    got = {r.doc_id: r.matched for r in
           _post_parse_stages(spark, df, spec_ci).collect()}
    assert got == {"d1": True, "d2": True, "d3": False}

    # keep = semi join, drop = anti join; they partition the frame
    for action, ids in (("keep", {"d1"}), ("drop", {"d2", "d3"})):
        spec_a, _ = spec_from_tree(parse_classic(base.format(
            path=lst, extra=f"    Action {action}\n")), vocab=["x"])
        got = {r.doc_id for r in
               _post_parse_stages(spark, df, spec_a)
               .select("doc_id").collect()}
        assert got == ids, action

    # parquet list with a 'value' column works the same
    pq = tmp_path / "vals.parquet"
    spark.createDataFrame([("auth",)], "value string") \
         .write.mode("overwrite").parquet(str(pq))
    spec_pq, _ = spec_from_tree(parse_classic(base.format(
        path=pq, extra="")), vocab=["x"])
    got = {r.doc_id: r.matched for r in
           _post_parse_stages(spark, df, spec_pq).collect()}
    assert got == {"d1": True, "d2": False, "d3": False}


def test_expect_checklist_config_errors(tmp_path):
    base = ("[INPUT]\n    Name tokens\n[FILTER]\n{body}\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    cases = [
        ("    Name expect", "no rules"),
        ("    Name expect\n    key_val_eq onlykey", "KEY VALUE"),
        ("    Name expect\n    key_exists k\n    action explode",
         "exit|warn|result_key"),
        ("    Name checklist\n    Lookup_key kind", "needs File"),
        ("    Name checklist\n    File x\n    Mode partial",
         "Mode exact"),
        ("    Name checklist\n    File x\n    Action banish",
         "flag|keep|drop"),
        ("    Name checklist\n    File x\n    Action drop\n"
         "    Record k v", "Action flag"),
        ("    Name checklist\n    File x\n    Record novalue",
         "KEY VALUE"),
    ]
    for body, msg in cases:
        with pytest.raises(ValueError, match=msg):
            spec_from_tree(parse_classic(base.format(body=body)),
                           vocab=["x"])


def test_expect_checklist_yaml_classic_parity(tmp_path):
    """expect + checklist resolve identically from classic and YAML."""
    lst = tmp_path / "vals.txt"
    lst.write_text("auth\n")
    classic = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name expect\n    Match *\n"
        "    key_exists kind\n    key_val_eq source s1\n"
        "    action warn\n"
        "[FILTER]\n    Name checklist\n    Match *\n"
        f"    File {lst}\n    Lookup_key kind\n"
        "    Record hit yes\n    Ignore_case on\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    yaml_tree = parse_yaml(f"""
pipeline:
  inputs:
    - {{name: tokens}}
  filters:
    - name: expect
      match: "*"
      key_exists: [kind]
      key_val_eq: ["source s1"]
      action: warn
    - name: checklist
      match: "*"
      file: {lst}
      lookup_key: kind
      record: ["hit yes"]
      ignore_case: on
  outputs:
    - {{name: file, match: "*", sink: s}}
""")
    sc, _ = spec_from_tree(classic, vocab=["x"])
    sy, _ = spec_from_tree(yaml_tree, vocab=["x"])
    assert sc == sy
    assert _confs(sc, "expect")[0]["action"] == "warn"
    assert _confs(sc, "checklist")[0]["ignore_case"] is True
    assert _confs(sc, "checklist")[0]["sets"] == [("hit", "yes")]


def test_stratified_split_filter_from_config(spark, fixture_paths):
    """[FILTER] stratified_split: repeatable Split_rate lines set
    per-group permille rates; config run equals the direct operator
    call."""
    from fluent_bit_spark.operators.filters import stratified_split
    from fluent_bit_spark.plans.pipeline import build_stages
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[FILTER]\n    Name stratified_split\n    Match *\n"
        "    Group_key    source\n    Hash_key     doc_id\n"
        "    Split_rate   web  200\n    Split_rate   logs 0\n"
        "    Default_rate 50\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(tree)
    assert _confs(spec, "stratified_split") == [{
        "group_key": "source", "hash_key": "doc_id",
        "rates": {"web": 200, "logs": 0}, "default_permille": 50}]
    df = spark.read.parquet(fixture_paths["tokens"]).limit(400)
    out = build_stages(spark, df, spec)
    got = {(r.doc_id, r.split) for r in
           out.select("doc_id", "split").collect()}
    want = {(r.doc_id, r.split) for r in
            stratified_split(df, "source", "doc_id",
                             {"web": 200, "logs": 0}, 50)
            .select("doc_id", "split").collect()}
    assert got == want and len(got) == 400


def test_stratified_split_config_errors(tmp_path):
    base = ("[INPUT]\n    Name tokens\n[FILTER]\n{body}\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    cases = [
        ("    Name stratified_split\n    Split_rate webonly",
         "GROUP PERMILLE"),
        ("    Name stratified_split\n    Split_rate web 2000",
         "0..1000"),
    ]
    for body, msg in cases:
        with pytest.raises(ValueError, match=msg):
            spec_from_tree(parse_classic(base.format(body=body)),
                           vocab=["x"])
    # one-per-pipeline guard
    flt = "stratified_split"
    two = (f"[INPUT]\n    Name tokens\n"
           f"[FILTER]\n    Name {flt}\n    Match *\n"
           f"[FILTER]\n    Name {flt}\n    Match *\n"
           f"[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    with pytest.raises(ValueError, match=f"one \\[FILTER\\] {flt}"):
        spec_from_tree(parse_classic(two), vocab=["x"])


def test_stratified_split_yaml_classic_parity():
    classic = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[FILTER]\n    Name stratified_split\n    Match *\n"
        "    Split_rate web 100\n    Default_rate 10\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    yaml_tree = parse_yaml("""
pipeline:
  inputs:
    - {name: tokens}
  filters:
    - name: stratified_split
      match: "*"
      split_rate: ["web 100"]
      default_rate: 10
  outputs:
    - {name: file, match: "*", sink: s}
""")
    sc, _ = spec_from_tree(classic, vocab=["x"])
    sy, _ = spec_from_tree(yaml_tree, vocab=["x"])
    assert sc == sy
    assert _confs(sc, "stratified_split")[0]["rates"] == {"web": 100}


def test_template_output_format_from_config():
    """[OUTPUT] Format template + Template map onto the spec; error
    cases: Template without the format, format without Template,
    mismatched Templates across outputs."""
    tree = parse_classic(
        "[INPUT]\n    Name tokens\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"
        "    Format template\n    Template {tag} {doc_id}\n")
    spec, _ = spec_from_tree(tree, vocab=["x"])
    assert spec.sink_format == "template"
    assert spec.sink_template == "{tag} {doc_id}"
    with pytest.raises(ValueError, match="needs Format template"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tokens\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"
            "    Template {tag}\n"), vocab=["x"])
    with pytest.raises(ValueError, match="needs a Template"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tokens\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"
            "    Format template\n"), vocab=["x"])
    with pytest.raises(ValueError, match="share one Template"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tokens\n"
            "[OUTPUT]\n    Name file\n    Match a.*\n    Sink s\n"
            "    Format template\n    Template {tag}\n"
            "[OUTPUT]\n    Name file\n    Match b.*\n    Sink t\n"
            "    Format template\n    Template {doc_id}\n"), vocab=["x"])


def test_log_to_metrics_filter_from_config(spark, fixture_paths,
                                           tmp_path):
    """[FILTER] log_to_metrics: counter/gauge/histogram blocks map onto
    operators/aggregate.log_to_metrics; a config-driven run writes each
    metric frame under metrics_out/<name>/ equal to the direct operator
    call over the routed good frame."""
    from fluent_bit_spark.operators.aggregate import log_to_metrics
    from fluent_bit_spark.plans.pipeline import build_stages
    conf = tmp_path / "m.conf"
    conf.write_text(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[FILTER]\n    Name log_to_metrics\n    Match *\n"
        "    Metric_mode counter\n    Metric_name records_by_tag\n"
        "    Label_field tag\n"
        "[FILTER]\n    Name log_to_metrics\n    Match *\n"
        "    Metric_mode gauge\n    Metric_name ntok_avg\n"
        "    Label_field source\n    Value_field n_tok\n"
        "[FILTER]\n    Name log_to_metrics\n    Match *\n"
        "    Metric_mode histogram\n    Metric_name ntok_hist\n"
        "    Label_field source\n    Value_field n_tok\n"
        "    Bucket 8\n    Bucket 16\n    Bucket 32\n"
        "    Regex source ^(web|src1)$\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(parse_classic(conf.read_text()))
    assert [m["name"] for m in spec.metrics_specs] == [
        "records_by_tag", "ntok_avg", "ntok_hist"]
    assert spec.metrics_specs[2]["buckets"] == [8.0, 16.0, 32.0]

    tok = spark.read.parquet(fixture_paths["tokens"]).limit(1500)
    sub = str(tmp_path / "tok_sub")
    tok.write.parquet(sub)
    out = str(tmp_path / "out")
    run_pipeline(spark, spec, sub, out)

    lineage = F.struct(F.lit(0).alias("batch_id"),
                       F.input_file_name().alias("input_file"))
    routed = build_stages(
        spark, spark.read.parquet(sub).withColumn("_lineage", lineage),
        spec)
    good = routed.filter(F.col("dlq_reason").isNull())

    got = {r["tag"]: r["value"] for r in spark.read.parquet(
        f"{out}/metrics_out/records_by_tag").collect()}
    want = {r["tag"]: r["value"] for r in
            log_to_metrics(good, "counter", ["tag"]).collect()}
    assert got == want and got

    got_g = {r["source"]: r["value"] for r in spark.read.parquet(
        f"{out}/metrics_out/ntok_avg").collect()}
    want_g = {r["source"]: r["value"] for r in
              log_to_metrics(good, "gauge", ["source"],
                             value_field="n_tok").collect()}
    assert got_g == want_g and got_g

    hist = spark.read.parquet(f"{out}/metrics_out/ntok_hist")
    got_h = {(r["source"], r["le"]): r["n"] for r in hist.collect()}
    pre = good.filter(F.col("source").rlike("^(web|src1)$"))
    want_h = {(r["source"], r["le"]): r["n"] for r in
              log_to_metrics(pre, "histogram", ["source"],
                             value_field="n_tok",
                             buckets=[8, 16, 32]).collect()}
    assert got_h == want_h and got_h
    # exposition contract: per source, 4 le rows (3 bounds + +Inf),
    # cumulative and ending at the group total
    for src in {k[0] for k in got_h}:
        les = [got_h[(src, le)] for le in ("8.0", "16.0", "32.0",
                                           "+Inf")]
        assert les == sorted(les)
        assert les[-1] == pre.filter(F.col("source") == src).count()


def test_log_to_metrics_config_errors(tmp_path):
    base = ("[INPUT]\n    Name tokens\n{f}"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    with pytest.raises(ValueError, match="needs metric_name"):
        spec_from_tree(parse_classic(base.format(
            f="[FILTER]\n    Name log_to_metrics\n    Match *\n")),
            vocab=["x"])
    with pytest.raises(ValueError, match="metric_mode must be"):
        spec_from_tree(parse_classic(base.format(
            f="[FILTER]\n    Name log_to_metrics\n    Match *\n"
              "    Metric_mode summary\n    Metric_name m\n")),
            vocab=["x"])
    with pytest.raises(ValueError, match="gauge needs value_field"):
        spec_from_tree(parse_classic(base.format(
            f="[FILTER]\n    Name log_to_metrics\n    Match *\n"
              "    Metric_mode gauge\n    Metric_name m\n")),
            vocab=["x"])
    with pytest.raises(ValueError, match="needs at least one bucket"):
        spec_from_tree(parse_classic(base.format(
            f="[FILTER]\n    Name log_to_metrics\n    Match *\n"
              "    Metric_mode histogram\n    Metric_name m\n"
              "    Value_field n_tok\n")), vocab=["x"])
    with pytest.raises(ValueError, match="float boundary"):
        spec_from_tree(parse_classic(base.format(
            f="[FILTER]\n    Name log_to_metrics\n    Match *\n"
              "    Metric_mode histogram\n    Metric_name m\n"
              "    Value_field n_tok\n    Bucket tiny\n")), vocab=["x"])


def test_script_filter_from_config(spark, tmp_path):
    """[FILTER] script: Script+Call load a Python batch function and
    run it via mapInPandas; config run equals the direct
    filter_map_batches call. .lua files and missing functions raise."""
    from fluent_bit_spark.operators.script import filter_map_batches
    from fluent_bit_spark.plans.filters import load_script_fn
    from fluent_bit_spark.plans.pipeline import _post_parse_stages
    py = tmp_path / "scrub.py"
    py.write_text(
        "def cb_filter(b):\n"
        "    b = b[b['text'].str.len() > 8].copy()\n"
        "    b['text'] = b['text'].str.upper()\n"
        "    return b\n")
    base = ("[INPUT]\n    Name tokens\n"
            "[FILTER]\n    Name script\n    Match *\n"
            f"    Script {py}\n    Call cb_filter\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec, _ = spec_from_tree(parse_classic(base), vocab=["x"])
    assert _confs(spec, "script") == [{"path": str(py), "call": "cb_filter"}]

    df = spark.createDataFrame(
        [("d1", "short", "s1", True),
         ("d2", "long enough to keep", "s1", True)],
        "doc_id string, text string, source string, parse_ok boolean"
    ).withColumn("fields", F.expr("named_struct('kind', 'raw')"))
    got = {(r.doc_id, r.text) for r in
           _post_parse_stages(spark, df, spec).collect()}
    want = {(r.doc_id, r.text) for r in
            filter_map_batches(df, load_script_fn(str(py),
                                                  "cb_filter"))
            .collect()}
    assert got == want
    assert got and all(t == t.upper() for _, t in got)
    assert not any(d == "d1" for d, _ in got)

    with pytest.raises(ValueError, match="no Lua runtime"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tokens\n"
            "[FILTER]\n    Name lua\n    Match *\n"
            "    Script f.lua\n    Call cb\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
            vocab=["x"])
    with pytest.raises(ValueError, match="needs a Script"):
        spec_from_tree(parse_classic(
            "[INPUT]\n    Name tokens\n"
            "[FILTER]\n    Name script\n    Match *\n    Call cb\n"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
            vocab=["x"])
    with pytest.raises(ValueError, match="no callable"):
        load_script_fn(str(py), "missing_fn")


def test_lookup_cache_ttl_config(spark, tmp_path):
    """[FILTER] lookup Cache_TTL → the entry's ttl, and the pipeline's
    lookup stage resolves the dim through a pinned DimCache snapshot:
    a second run within TTL does not see an external dim rewrite; with
    no Cache_TTL the spec stays None (plain per-run read)."""
    from fluent_bit_spark.operators.enrich import _DIM_CACHES
    from fluent_bit_spark.plans.pipeline import _post_parse_stages

    dim = str(tmp_path / "dim")
    spark.createDataFrame([("s1", "alpha")], "source string, label string") \
        .write.mode("overwrite").parquet(dim)
    base = ("[INPUT]\n    Name tokens\n"
            "[FILTER]\n    Name lookup\n    Match *\n"
            f"    File {dim}\n    Lookup_key source\n{{ttl}}"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    spec0, _ = spec_from_tree(parse_classic(base.format(ttl="")),
                              vocab=["x"])
    assert _confs(spec0, "lookup")[0]["ttl"] is None
    spec, _ = spec_from_tree(
        parse_classic(base.format(ttl="    Cache_TTL 300\n")),
        vocab=["x"])
    [lk] = _confs(spec, "lookup")
    assert lk["ttl"] == 300.0 and lk["path"] == dim

    _DIM_CACHES.clear()   # isolate from other tests in this process
    df = spark.createDataFrame(
        [("d1", "s1", True)],
        "doc_id string, source string, parse_ok boolean"
    ).withColumn("fields", F.expr("named_struct('kind', 'raw')"))
    out1 = {r.doc_id: r.label
            for r in _post_parse_stages(spark, df, spec).collect()}
    assert out1 == {"d1": "alpha"}
    # external rewrite is invisible within TTL (pinned snapshot) …
    spark.createDataFrame([("s1", "beta")], "source string, label string") \
        .write.mode("overwrite").parquet(dim)
    out2 = {r.doc_id: r.label
            for r in _post_parse_stages(spark, df, spec).collect()}
    assert out2 == {"d1": "alpha"}
    # … but the TTL-less spec re-reads per run and sees it
    out3 = {r.doc_id: r.label
            for r in _post_parse_stages(spark, df, spec0).collect()}
    assert out3 == {"d1": "beta"}
    _DIM_CACHES.clear()


def test_es_and_loki_outputs_from_config(spark, fixture_paths,
                                         tmp_path):
    """[OUTPUT] Name es / Name loki: config-driven runs land exactly
    the bodies the serializers produce directly over the routed good
    frame; property validation errors are loud."""
    from fluent_bit_spark.functions.serialize import (
        to_es_bulk, to_key_value_line, to_loki_push)
    from fluent_bit_spark.plans.pipeline import build_stages

    tok = spark.read.parquet(fixture_paths["tokens"]).limit(800)
    sub = str(tmp_path / "tok_sub")
    tok.write.parquet(sub)

    def routed_good(spec):
        lineage = F.struct(F.lit(0).alias("batch_id"),
                           F.input_file_name().alias("input_file"))
        routed = build_stages(
            spark,
            spark.read.parquet(sub).withColumn("_lineage", lineage),
            spec)
        good = routed.filter(F.col("dlq_reason").isNull())
        pay = [c for c in good.columns
               if c not in ("sinks", "routes_mask", "dlq_reason",
                            "_lineage", "tag")]
        return good.filter(F.array_contains("sinks", "s")), pay

    def sink_lines(out):
        # a body's own trailing newline + the text writer's terminator
        # leave one blank line per body — a replay connector splits on
        # those to recover exact POST bodies; drop them for the
        # line-set comparison
        return sorted(r.value for r in
                      spark.read.text(f"{out}/sinks/s/batch_id=0")
                      .collect() if r.value)

    # --- es ---
    es_conf = tmp_path / "es.conf"
    es_conf.write_text(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[OUTPUT]\n    Name es\n    Match *\n    Sink s\n"
        "    Index app\n    Id_Key doc_id\n    Batch_Records 50\n"
        "    Order_Key doc_id\n    Write_Operation index\n")
    spec, _ = spec_from_tree(parse_classic(es_conf.read_text()))
    assert spec.sink_format == "es"
    assert spec.es_output["index"] == "app"
    assert spec.es_output["logstash_dateformat"] == "yyyy.MM.dd"
    out_es = str(tmp_path / "out_es")
    run_pipeline(spark, spec, sub, out_es)

    good, pay = routed_good(spec)
    bodies = to_es_bulk(good, pay, index="app", id_col="doc_id",
                        write_op="index", batch_records=50,
                        order_col="doc_id").collect()
    want = sorted(ln for r in bodies
                  for ln in r.body.split("\n") if ln)
    assert sink_lines(out_es) == want and want

    # --- loki ---
    lk_conf = tmp_path / "loki.conf"
    lk_conf.write_text(
        "[INPUT]\n    Name tokens\n    Format tokens\n"
        "[OUTPUT]\n    Name loki\n    Match *\n    Sink s\n"
        "    Labels job=app, env=test\n    Label_Keys $source\n"
        "    Line_Format key_value\n    Order_Key doc_id\n")
    spec_l, _ = spec_from_tree(parse_classic(lk_conf.read_text()))
    assert spec_l.sink_format == "loki"
    assert spec_l.loki_output["labels"] == {"job": "app",
                                            "env": "test"}
    assert spec_l.loki_output["label_keys"] == ["source"]
    out_lk = str(tmp_path / "out_loki")
    run_pipeline(spark, spec_l, sub, out_lk)

    good_l, pay_l = routed_good(spec_l)
    labelled = (good_l.withColumn("job", F.lit("app"))
                      .withColumn("env", F.lit("test")))
    line_cols = [c for c in pay_l if c not in ("job", "env", "source")]
    lined = to_key_value_line(labelled, line_cols, out="__line") \
        .withColumn("__ts", F.timestamp_seconds(F.lit(0)))
    streams = to_loki_push(lined, ["job", "env", "source"], "__line",
                           "__ts", order_col="doc_id")
    want_l = sorted(r.stream_body for r in streams.collect())
    assert sink_lines(out_lk) == want_l and want_l
    # every stream object is valid JSON with the static labels
    import json
    for s in want_l:
        obj = json.loads(s)
        assert obj["stream"]["job"] == "app"
        assert obj["stream"]["env"] == "test"
        assert obj["values"] and all(len(v) == 2 for v in obj["values"])

    # --- validation ---
    base = ("[INPUT]\n    Name tokens\n"
            "[OUTPUT]\n    Name es\n    Match *\n    Sink s\n{p}")
    with pytest.raises(ValueError, match="Write_Operation"):
        spec_from_tree(parse_classic(
            base.format(p="    Write_Operation delete\n")))
    with pytest.raises(ValueError, match="Logstash_Format needs"):
        spec_from_tree(parse_classic(
            base.format(p="    Logstash_Format On\n")))
    lbase = ("[INPUT]\n    Name tokens\n"
             "[OUTPUT]\n    Name loki\n    Match *\n    Sink s\n{p}")
    with pytest.raises(ValueError, match="k=v"):
        spec_from_tree(parse_classic(
            lbase.format(p="    Labels jobapp\n")))
    with pytest.raises(ValueError, match="Line_Format"):
        spec_from_tree(parse_classic(
            lbase.format(p="    Line_Format logfmt\n")))
