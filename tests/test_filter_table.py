"""[FILTER] blocks run in config order, each on the tags its Match
selects (plans/filters.py ``FILTERS``; upstream:src/flb_filter.c
``flb_filter_do``). Golden runs compare the sinks and the DLQ with the
pandas oracle, which applies the same filters row at a time."""

from __future__ import annotations

import glob
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import fixtures as fx
from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
from fluent_bit_spark.plans.pipeline import (_post_parse_stages, build_stages,
                                             read_dlq, read_sink,
                                             run_pipeline)
from tests.oracle_pandas import rewrite_errors, route_records, token_records

OUTPUTS = "".join(
    f"[OUTPUT]\n    Name file\n    Match {p}\n    Sink {s}\n"
    for s, p, _ in fx.DEFAULT_ROUTES)
REWRITE = ("[FILTER]\n    Name rewrite_tag\n    Match *\n"
           "    Rule $fields.level ^error$ err.$TAG[1] true\n")


def _spec(filters: str):
    return spec_from_tree(parse_classic(
        "[INPUT]\n    Name tokens\n" + filters + OUTPUTS))[0]


def _run_against_oracle(spark, fixture_paths, tmp_path, filters: str,
                        oracle_filters, values=()) -> dict:
    """Run the config over the fixture tokens; every sink's
    (doc_id, tag, *values) rows and the DLQ counts must equal the
    oracle's. Returns the oracle's result."""
    out = str(tmp_path / "out")
    run_pipeline(spark, _spec(filters), fixture_paths["tokens"], out)
    want = route_records(
        token_records(fixture_paths["tokens"], fx.vocab()),
        fx.DEFAULT_ROUTES, rewrite_errors_keep=None,
        filters=oracle_filters, values=values)
    for sink, g in want["sinks"].items():
        got = (sorted(tuple(r) for r in read_sink(spark, out, sink)
                      .select("doc_id", "tag", *values).collect())
               if glob.glob(f"{out}/sinks/{sink}/**/*.parquet",
                            recursive=True) else [])
        assert got == g["values"], sink
    dlq = {r.dlq_reason: r.n for r in read_dlq(spark, out)
           .groupBy("dlq_reason").agg(F.count("*").alias("n")).collect()}
    assert dlq.get("parse_fail", 0) == want["dlq"]["parse_fail"]
    assert dlq.get("no_route", 0) == want["dlq"]["no_route"]
    return want


def test_match_scoped_grep_and_modify_leave_other_tags(spark, fixture_paths,
                                                       tmp_path):
    """A grep scoped to the json tags drops only json rows; a Set scoped
    (by Match_Regex) to the apache tags writes only apache rows. Every
    other tag keeps its rows and a NULL ``owner``."""
    want = _run_against_oracle(
        spark, fixture_paths, tmp_path,
        "[FILTER]\n    Name grep\n    Match app.*.json\n"
        "    Regex fields.level ^(info|error)$\n"
        "[FILTER]\n    Name modify\n    Match_Regex ^app\\..*\\.apache$\n"
        "    Set owner web\n" + REWRITE,
        [("app.*.json",
          lambda r: [r] if r["level"] in ("info", "error") else []),
         ("app.*.apache", lambda r: [{**r, "owner": "web"}]),
         ("*", rewrite_errors)],
        values=("owner",))
    web, kv = want["sinks"]["sink_web"], want["sinks"]["sink_kv"]
    assert web["records"] and all(v[2] == "web" for v in web["values"])
    assert kv["records"] and all(v[2] is None for v in kv["values"])
    unscoped = route_records(
        token_records(fixture_paths["tokens"], fx.vocab()),
        fx.DEFAULT_ROUTES)
    assert 0 < (want["sinks"]["sink_json"]["records"]
                < unscoped["sinks"]["sink_json"]["records"])
    assert kv["records"] == unscoped["sinks"]["sink_kv"]["records"]


def test_rewrite_copies_pass_only_later_filters(spark, fixture_paths,
                                                tmp_path):
    """A rewrite_tag copy goes on through the filters after its
    rewrite_tag, matched by its new tag, and skips the ones before it
    (upstream's in_emitter would send it through all of them)."""
    sets = lambda col: lambda r: [{**r, col: "yes"}]  # noqa: E731
    want = _run_against_oracle(
        spark, fixture_paths, tmp_path,
        "[FILTER]\n    Name modify\n    Match err.*\n    Set early yes\n"
        + REWRITE +
        "[FILTER]\n    Name modify\n    Match err.*\n    Set late yes\n",
        [("err.*", sets("early")), ("*", rewrite_errors),
         ("err.*", sets("late"))],
        values=("early", "late"))
    errs = want["sinks"]["sink_errors"]["values"]
    assert errs and all(v[2:] == (None, "yes") for v in errs)


@pytest.mark.parametrize("first", ["grep", "rewrite_tag"])
def test_swapping_two_filters_follows_config_order(spark, fixture_paths,
                                                   tmp_path, first):
    """grep (Exclude errors on app.*) before rewrite_tag leaves no error
    to copy; after it, the err.* copies survive the grep, which does not
    match their tag, and the originals do not."""
    grep = ("[FILTER]\n    Name grep\n    Match app.*\n"
            "    Exclude fields.level ^error$\n")
    no_err = ("app.*", lambda r: [] if r["level"] == "error" else [r])
    blocks = [(grep, no_err), (REWRITE, ("*", rewrite_errors))]
    if first == "rewrite_tag":
        blocks.reverse()
    want = _run_against_oracle(spark, fixture_paths, tmp_path,
                               "".join(b for b, _ in blocks),
                               [o for _, o in blocks])
    n_err = want["sinks"]["sink_errors"]["records"]
    assert (n_err > 0) == (first == "rewrite_tag")


def _frame(spark):
    return spark.createDataFrame(
        [("d1", "x", "n", "y"), ("d2", "n", "x", "y"),
         ("d3", "x", "n", "n"), ("d4", "n", "n", "y")],
        "doc_id string, a string, b string, c string"
    ).withColumns({"source": F.lit("s1"), "parse_ok": F.lit(True),
                   "kind": F.lit("raw"),
                   "fields": F.expr("named_struct('kind', 'raw')")})


def _kept(spark, filters: str) -> list[str]:
    spec = spec_from_tree(parse_classic(
        "[INPUT]\n    Name tokens\n" + filters
        + "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
        vocab=["x"])[0]
    return sorted(r.doc_id for r in
                  _post_parse_stages(spark, _frame(spark), spec).collect())


def test_grep_blocks_keep_their_own_logical_op(spark):
    """Block A ORs its two rules, block B has one rule and no
    Logical_Op: the kept rows are (A1 or A2) and B1."""
    kept = _kept(spark,
                 "[FILTER]\n    Name grep\n    Match *\n    Logical_Op OR\n"
                 "    Regex a ^x$\n    Regex b ^x$\n"
                 "[FILTER]\n    Name grep\n    Match *\n    Regex c ^y$\n")
    assert kept == ["d1", "d2"]


def test_grep_on_an_unmatched_tag_keeps_every_row(spark):
    probe = ("[FILTER]\n    Name grep\n    Match {}\n"
             "    Regex kind ^apache$\n")
    assert _kept(spark, probe.format("nothing.matches.this")) == [
        "d1", "d2", "d3", "d4"]
    assert _kept(spark, probe.format("*")) == []
    assert _kept(spark, probe.format("app.s1.raw")) == []


@pytest.mark.parametrize("block", [
    "Name script\n    Script f.py",
    "Name throttle\n    Rate 1",
    "Name nest\n    Operation lift\n    Nested_under fields",
    "Name multiline\n    multiline.parser java",
    "Name log_to_metrics\n    Metric_name m",
    "Name modify\n    Remove a",
])
def test_a_filter_that_cannot_be_scoped_raises(block):
    name = block.split()[1]
    with pytest.raises(ValueError,
                       match=rf"{name} with Match 'app\.\*'"):
        _spec(f"[FILTER]\n    {block}\n    Match app.*\n")
    _spec(f"[FILTER]\n    {block}\n    Match *\n")


def test_tag_expr_cannot_read_a_filter_column(spark, fixture_paths):
    """The tag is set at input, before any filter: a tag_expr over the
    column stratified_split adds fails while the plan is built."""
    spec = spec_from_tree(parse_classic(
        "[INPUT]\n    Name tokens\n    Tag_expr concat('s.', split)\n"
        "[FILTER]\n    Name stratified_split\n    Match *\n"
        "    Default_rate 500\n" + OUTPUTS))[0]
    df = spark.read.parquet(fixture_paths["tokens"])
    with pytest.raises(ValueError, match=re.escape(
            "tag_expr \"concat('s.', split)\"")):
        build_stages(spark, df, spec)


def test_run_pipeline_lookup_fallback_runs_first(spark, fixture_paths,
                                                 tmp_path, monkeypatch):
    """jobs/run_pipeline.py --config with no lookup filter and --lookup:
    the dim joins as a Match * lookup before the config's filters, so a
    grep can read its columns."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    import run_pipeline as rp
    conf = tmp_path / "pipe.conf"
    conf.write_text("[INPUT]\n    Name tokens\n"
                    "[FILTER]\n    Name grep\n    Match *\n"
                    "    Regex team ^web$\n"
                    "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--input", fixture_paths["tokens"],
        "--output", out, "--config", str(conf),
        "--lookup", fixture_paths["lookup"]])
    monkeypatch.setattr("builtins.print", lambda s: None)
    assert rp.main() == 0
    teams = {r.team: r.n for r in read_sink(spark, out, "s")
             .groupBy("team").agg(F.count("*").alias("n")).collect()}
    assert list(teams) == ["web"] and teams["web"] > 0
