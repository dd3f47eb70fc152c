"""Physical-plan shape assertions (SURVEY.md §4.2) — the plans we
designed for, checked with .explain so regressions that silently
de-optimize (extra UDF evals, lost pushdown, shuffled lookup join)
fail loudly.

These are scale guarantees, not timings: at 10^12 rows the difference
between one ArrowEvalPython node and two is a second full pass of the
corpus through Python.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import fixtures as fx
from fluent_bit_spark.operators.router import RewriteTagRule, Route
from fluent_bit_spark.plans.pipeline import PipelineSpec, build_stages


def _routed_plan(spark, fixture_paths, rewrite_rules=()) -> str:
    spec = PipelineSpec(
        vocab=fx.vocab(),
        routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
        rewrite_rules=list(rewrite_rules),
        lookup_path=fixture_paths["lookup"],
    )
    df = spark.read.parquet(fixture_paths["tokens"])
    routed = build_stages(spark, df, spec)
    return routed._jdf.queryExecution().executedPlan().toString()


def _python_boundaries(plan: str) -> int:
    return (plan.count("ArrowEvalPython") + plan.count("MapInArrow")
            + plan.count("PythonMapInArrow"))


@pytest.fixture(scope="module")
def routed_plan(spark, fixture_paths):
    return _routed_plan(spark, fixture_paths)


def test_single_arrow_udf_pass(routed_plan):
    """detokenize + parse fuse into ONE Python/Arrow boundary — one
    Arrow round-trip for the whole parse stage (§4.2 item 3). The
    fused stage plans as one ArrowEvalPython node; a second one would
    mean a second pass of the corpus through Python."""
    assert _python_boundaries(routed_plan) == 1, routed_plan


@pytest.mark.parametrize("input_format,arg", [("tokens", "tokens"),
                                              ("text", "decoded")])
def test_parse_is_one_arrow_udf_over_its_input_column(
        spark, fixture_paths, tmp_path, input_format, arg):
    """The slice's parse stage is one ``arrow_udf`` (no pandas) whose
    only argument is ``tokens``, or ``decoded`` on the text path: no
    other column of the row (``_lineage``, the payload) crosses into
    Python and back."""
    from pyspark.util import PythonEvalType

    from fluent_bit_spark.plans.pipeline import read_routed
    spec = PipelineSpec(vocab=fx.vocab(),
                        routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
                        lookup_path=fixture_paths["lookup"])
    files = [fixture_paths["tokens"]]
    if input_format == "text":
        log = tmp_path / "src0.log"
        log.write_text('level=info msg="ok" code=200\njunk\n')
        files = [str(log)]
    routed = read_routed(spark, spec, input_format, files, 0)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "MapInArrow" not in plan, plan
    m = re.search(r"ArrowEvalPython \[\w+\(([^)]*)\)#\d+\], "
                  r"\[[^\]]*\], (\d+)", plan)
    assert m, plan
    assert re.fullmatch(rf"{arg}#\d+", m.group(1)), plan
    assert int(m.group(2)) == PythonEvalType.SQL_SCALAR_ARROW_UDF, plan


def test_rewrite_keep_copies_parse_once(spark, fixture_paths):
    """The default keep=True rewrite rule (level=error → err.$TAG[1])
    emits its copies with an explode above the parse. A union of two
    branches of the plan would scan, parse and join every row twice."""
    plan = _routed_plan(spark, fixture_paths, [RewriteTagRule(
        key="fields.level", pattern="^error$", new_tag="err.$TAG[1]",
        keep=True)])
    assert _python_boundaries(plan) == 1, plan
    assert "Union" not in plan, plan


def test_lookup_join_is_broadcast(routed_plan):
    """The enrich join must be broadcast, never a shuffled join
    (upstream filter_lookup is a per-record hash probe — the shuffle
    would be a 10^12-row exchange)."""
    assert "BroadcastHashJoin" in routed_plan
    assert "SortMergeJoin" not in routed_plan
    assert "ShuffledHashJoin" not in routed_plan


def test_no_shuffle_before_sinks(routed_plan):
    """parse→enrich→tag→route is a pure map chain: no Exchange above
    the scan (routing must not repartition; the only shuffles in the
    pipeline are the aggregate stages)."""
    assert "Exchange" not in routed_plan.replace("BroadcastExchange", "")


def test_scan_prunes_columns(spark, fixture_paths):
    """An aggregate-only query over the tokens table must not read
    ``tokens`` (ReadSchema pruning — §4.2 'critical')."""
    df = spark.read.parquet(fixture_paths["tokens"])
    plan = (df.groupBy("source").agg(F.sum("n_tok"))
            ._jdf.queryExecution().executedPlan().toString())
    schemas = [ln.split("ReadSchema:")[1] for ln in plan.splitlines()
               if "ReadSchema:" in ln]
    assert schemas and "tokens" not in schemas[0]


def test_filter_pushdown_reaches_scan(spark, fixture_paths):
    df = spark.read.parquet(fixture_paths["tokens"])
    plan = (df.filter(F.col("source") == "src1").select("doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src1)]" \
        in plan


def test_salted_agg_is_two_phase(spark, fixture_paths):
    """The salted aggregation must show partial aggregation below the
    exchange on (key, salt) and a final stage on the key alone."""
    from fluent_bit_spark.operators.aggregate import salted_sink_aggregates
    df = spark.read.parquet(fixture_paths["tokens"])
    plan = (salted_sink_aggregates(df, ["source"], salt_buckets=8)
            ._jdf.queryExecution().executedPlan().toString())
    # two aggregation layers → at least 4 HashAggregate nodes
    # (partial+final for the salted layer and for the de-salt layer)
    assert plan.count("HashAggregate") >= 4
    assert "xxhash64" in plan  # the salt expression survived planning


def test_grep_filter_stays_in_codegen(spark, fixture_paths):
    """grep predicates compile to JVM rlike, not python UDFs."""
    from fluent_bit_spark.operators.filters import GrepRule, grep
    df = spark.read.parquet(fixture_paths["tokens"])
    plan = (grep(df, [GrepRule("doc_id", "^doc1")], "AND")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan
    assert "RLIKE" in plan or "rlike" in plan


def test_range_lookup_is_broadcast_equi_join(spark):
    """The bucketed range join must plan as a BroadcastHashJoin on the
    bucket key with a residual range filter — NOT a nested-loop join
    over facts x ranges."""
    from fluent_bit_spark.operators.enrich import range_lookup
    facts = spark.range(100).select(
        (F.col("id") * 977).alias("ip"))
    ranges = spark.createDataFrame(
        [(0, 9999, "a"), (10000, 59999, "b")],
        "r_start long, r_end long, val string")
    plan = (range_lookup(facts, "ip", ranges, "r_start", "r_end",
                         bucket_bits=12)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with NO Exchange on either side — the write-once
    shuffle that makes repeated big-big joins affordable at scale."""
    from fluent_bit_spark.sources.tables import read_table, write_bucketed
    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("x"))
    b = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("y"))
    write_bucketed(a, "bkt_a", "k", n_buckets=8, sort_key="k")
    write_bucketed(b, "bkt_b", "k", n_buckets=8, sort_key="k")
    try:
        joined = read_table(spark, "bkt_a").join(
            read_table(spark, "bkt_b").hint("merge"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
        assert joined.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_multiline_join_is_single_shuffle(spark):
    """Window (partitionBy stream) and the group rebuild (groupBy
    stream,_gkey) must share ONE exchange: HashPartitioning(stream)
    satisfies the aggregation's ClusteredDistribution because its keys
    are a subset of the grouping keys — the docstring's 'same key →
    Catalyst reuses the partitioning' claim, pinned."""
    from fluent_bit_spark.operators.multiline import join_multiline
    df = spark.createDataFrame(
        [("s", i, f"l{i}") for i in range(50)],
        "stream string, off long, line string")
    out = join_multiline(df, "stream", "off", "line",
                         F.col("line").endswith("0"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_prefix_sum_windows_are_bounded(spark, tokens_df):
    """pack_sequences' offset scan must NOT plan a window partitioned
    only by source (that funnels a whole 10^12-row stream into one
    task). The two-phase form plans TWO windows: one over the tiny
    per-group totals and one partitioned by (source, group) — every
    window partition key set must include the bounded __g group."""
    from fluent_bit_spark.operators.tokens import exclusive_prefix_sum
    d = tokens_df.limit(500).withColumn(
        "oid", F.substring("doc_id", 4, 12).cast("long"))
    out = exclusive_prefix_sum(d, "source", "oid", "n_tok", "off",
                               group_size=64)
    plan = _plan(out)
    import re
    windows = re.findall(r"Window \[.*?\]", plan)
    assert windows, plan
    # the full-table window (over the fact rows) keys on __g too;
    # windows keyed on source alone may exist only over the per-group
    # totals frame, which is bounded by rows/group_size. Distinguish by
    # requiring at least one window spec that includes __g.
    assert any("__g" in w for w in windows), plan


def test_prefix_sum_windows_are_bounded_hash_order(spark, tokens_df):
    """Same guard on the HASH-ORDER path (run_pack --order hash):
    xxhash64 keys span the full int64 domain, so the range groups must
    be sized by hash_order_bucket_width — the dense 2^20 default would
    put every row in its own group, making the per-group totals table
    corpus-sized (its source-only window degenerates to one task and
    its broadcast would OOM the driver at 10^12 rows)."""
    from fluent_bit_spark.operators.tokens import (exclusive_prefix_sum,
                                                   hash_order_bucket_width)
    d = (tokens_df.limit(500)
         .withColumn("okey", F.xxhash64("doc_id")))
    width = hash_order_bucket_width(500, rows_per_group=64)
    out = exclusive_prefix_sum(d, "source", "okey", "n_tok", "off",
                               group_size=width, tiebreak_col="doc_id")
    plan = _plan(out)
    import re
    windows = re.findall(r"Window \[.*?\]", plan)
    assert windows, plan
    assert any("__g" in w for w in windows), plan
    # and the bucketing actually bounds the totals frame
    n_groups = (d.select(F.expr(f"okey DIV {width}").alias("g"))
                .distinct().count())
    assert n_groups <= 64, n_groups


def test_decontaminate_gram_join_is_broadcast(spark):
    """The benchmark gram set must broadcast: a shuffled join would
    exchange the 10^12-row exploded training grams."""
    from fluent_bit_spark.operators.tokens import decontaminate
    train = spark.createDataFrame(
        [("t%d" % i, list(range(i, i + 8))) for i in range(50)],
        "doc_id string, tokens array<int>")
    bench = spark.createDataFrame(
        [("b1", [2, 3, 4, 5, 6])], "doc_id string, tokens array<int>")
    plan = _plan(decontaminate(train, bench, n=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_sample_is_broadcast_plus_map_filter(spark, tokens_df):
    """mixture_sample adds only broadcast exchanges onto the fact
    scan — the corpus itself is never repartitioned to sample it."""
    from fluent_bit_spark.operators.tokens import mixture_sample
    d = tokens_df.limit(1000)
    out = mixture_sample(d, weight_pct=F.lit(20),
                         budget_tokens=F.expr("corpus_tokens DIV 2"))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # every Exchange on the FACT side must be broadcast; the only
    # hash exchanges allowed are under the tiny totals aggregates
    stripped = plan.replace("BroadcastExchange", "")
    # totals/corpus aggregates are rows-per-source sized: they may
    # hash-exchange, but the fact scan must not. The fact branch is the
    # one containing the parquet scan feeding the Filter; assert the
    # filter sits directly on the scan side with no Exchange between.
    import re
    m = re.search(r"Filter .*?\n(?:(?!Exchange).)*Scan", plan, re.S)
    assert m is not None, plan


def test_line_dedup_reuses_materialized_lines(spark, tokens_df):
    """line_dedup's exploded line frame must be persisted and REUSED by
    both plan branches (count build + join probe) — the unmaterialized
    probe side re-evaluates the explode at ~10x its cost (BENCH/
    CLEAN.md). Both branches must plan as InMemoryTableScan."""
    from fluent_bit_spark.operators.tokens import line_dedup
    docs = (tokens_df.limit(300)
            .withColumn("text", F.concat_ws(" ",
                        F.col("tokens").cast("array<string>"))))
    out = line_dedup(docs, line_words=4, max_occ=2)
    plan = _plan(out)
    # (the single FileScan that builds the cache appears inside the
    # InMemoryRelation description — only the InMemoryTableScan count
    # distinguishes reuse from re-evaluation)
    assert plan.count("InMemoryTableScan") >= 2, plan
    spark.catalog.clearCache()


def test_cms_plans_are_bounded_and_broadcast(spark):
    """count_min_table's only wide exchange is the d×w-bounded cell
    agg; cms_estimate joins the sketch via BroadcastHashJoin; neither
    path crosses a Python boundary."""
    from fluent_bit_spark.operators.aggregate import (
        cms_estimate, count_min_table,
    )
    df = spark.createDataFrame([(f"k{i % 9}",) for i in range(200)],
                               "k string")
    cms = count_min_table(df, "k", width=32, depth=3)
    est = cms_estimate(cms, df.distinct(), "k", width=32, depth=3)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas", "MapInArrow", "CartesianProduct"):
        assert marker not in plan
    # the sketch itself is the complete spine — depth*width rows
    assert cms.count() == 32 * 3


def test_vocab_growth_plan_has_no_expand(spark):
    """vocab_growth must not plan a multi-distinct Expand (it would
    multiply the exploded corpus by the aggregate count); the vocab
    side is a min-bucket reduction instead."""
    from fluent_bit_spark.operators.tokens import vocab_growth
    df = spark.createDataFrame(
        [(i, list(range(i % 5 + 1))) for i in range(50)],
        "doc_id long, tokens array<int>")
    plan = (vocab_growth(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Expand" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython",
                   "CartesianProduct"):
        assert marker not in plan


def test_kn_surprisal_plan_broadcasts_bounded_sides(spark, tokens_df):
    """KN scoring: the vocab-bounded context/continuation tables and
    the 1-row distinct-bigram scalar ride as broadcast joins; no
    cartesian product; no Python anywhere."""
    from fluent_bit_spark.operators.tokens import kn_surprisal
    d = tokens_df.limit(300)
    plan = (kn_surprisal(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert plan.count("BroadcastExchange") >= 3  # ctx, cont, nbb
    assert "BroadcastNestedLoopJoin" in plan     # the 1-row crossJoin


def test_bucket_batches_plan_bounded_windows_only(spark, tokens_df):
    """bucket_batches: the prefix count's windows are the two-phase
    bounded forms (per-group totals + local) — no corpus-wide
    unbounded sort per (source, bucket); no Python."""
    from fluent_bit_spark.operators.tokens import bucket_batches
    d = tokens_df.limit(300)
    plan = (bucket_batches(d, max_tokens=256)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "CartesianProduct" not in plan
    # exclusive_prefix_sum shape: the base-offset table broadcasts
    assert "BroadcastExchange" in plan


def test_remap_vocab_plan_broadcast_mapping(spark, tokens_df):
    """remap_vocab: the vocab-bounded mapping joins as a broadcast;
    the rewrite never becomes a shuffled join keyed on token."""
    from fluent_bit_spark.operators.tokens import remap_vocab
    d = tokens_df.limit(300)
    plan = (remap_vocab(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_spans_plan_broadcast_bench(spark, tokens_df):
    """decontaminate_spans: the bench window-key set broadcasts; train
    window content never shuffles (only fixed-width keys appear in
    exchanges — asserted by the absence of a token-array column in
    any Exchange's output schema is impractical to string-match, so
    we assert the join strategy instead)."""
    from fluent_bit_spark.operators.tokens import decontaminate_spans
    d = tokens_df.limit(300)
    train = d.filter(F.col("doc_id").substr(4, 12).cast("long") % 5
                     != 0)
    bench = d.filter(F.col("doc_id").substr(4, 12).cast("long") % 5
                     == 0)
    plan = (decontaminate_spans(train, bench, length=16)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
