"""Golden end-to-end: full pipeline vs the independent pandas oracle —
per-sink aggregate counts + routed-row-set equality (BASELINE.json
north_star), token invariant, checkpointed resume idempotence."""

from __future__ import annotations

import glob
import os
import shutil
import threading
import warnings

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import fixtures as fx
from fluent_bit_spark.operators.router import RewriteTagRule, Route
from fluent_bit_spark.plans.pipeline import (
    PipelineSpec, build_stages, read_dlq, read_metrics, read_sink,
    run_pipeline, tune_scan_partitions,
)
from tests.oracle_pandas import run_oracle

OUT = "/tmp/fbs_e2e_out"


def _spec(fixture_paths) -> PipelineSpec:
    return PipelineSpec(
        vocab=fx.vocab(),
        routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
        rewrite_rules=[RewriteTagRule(
            key="fields.level", pattern="^error$",
            new_tag="err.$TAG[1]", keep=True)],
        lookup_path=fixture_paths["lookup"],
    )


def _sink_pairs(spark, out: str, sink: str,
                sink_format: str = "parquet") -> list[tuple[str, str]]:
    """One sink's (doc_id, tag) rows, sorted, duplicates kept."""
    df = (spark.read.json(f"{out}/sinks/{sink}")
          if sink_format == "json_lines" else read_sink(spark, out, sink))
    return sorted((r.doc_id, r.tag)
                  for r in df.select("doc_id", "tag").collect())


def _split_input(spark, fixture_paths, tmp_path) -> str:
    """The fixture rows as two parquet files, so a run can have 2 slices."""
    split_dir = str(tmp_path / "split")
    spark.read.parquet(fixture_paths["tokens"]).repartition(2) \
        .write.parquet(split_dir)
    return split_dir


@pytest.fixture(scope="module")
def pipeline_out(spark, fixture_paths):
    shutil.rmtree(OUT, ignore_errors=True)
    stats = run_pipeline(spark, _spec(fixture_paths),
                         fixture_paths["tokens"], OUT, n_slices=1)
    return stats


@pytest.fixture(scope="module")
def golden(fixture_paths):
    return run_oracle(fixture_paths["tokens"], fx.vocab(),
                      fx.DEFAULT_ROUTES)


def test_per_sink_aggregates_match_oracle(spark, pipeline_out, golden,
                                          fixture_paths):
    for sink, g in golden["sinks"].items():
        if g["records"] == 0:
            continue
        df = read_sink(spark, OUT, sink)
        row = df.agg(F.count("*").alias("n"),
                     F.sum("n_tok").alias("s"),
                     F.count_distinct("source").alias("d")).collect()[0]
        assert row.n == g["records"], sink
        assert row.s == g["sum_n_tok"], sink
        assert row.d == g["distinct_sources"], sink


def test_routed_row_set_equality(spark, pipeline_out, golden):
    for sink, g in golden["sinks"].items():
        if g["records"] == 0:
            continue
        got = sorted(r.doc_id for r in
                     read_sink(spark, OUT, sink).select("doc_id").collect())
        assert got == g["doc_ids"], sink


def test_dlq_counts_match_oracle(spark, pipeline_out, golden):
    got = {r.dlq_reason: r.n for r in
           read_dlq(spark, OUT).groupBy("dlq_reason")
           .agg(F.count("*").alias("n")).collect()}
    assert got.get("parse_fail", 0) == golden["dlq"]["parse_fail"]
    assert got.get("no_route", 0) == golden["dlq"]["no_route"]


def test_tokens_survive_to_sinks(spark, pipeline_out, fixture_paths):
    """Per-row token-array equality: what landed in each sink carries the
    exact token array from the input (join on doc_id, compare arrays)."""
    inp = spark.read.parquet(fixture_paths["tokens"]) \
        .select("doc_id", F.col("tokens").alias("tokens_in"))
    out = read_sink(spark, OUT, "sink_web").select("doc_id", "tokens")
    bad = (out.join(inp, "doc_id")
              .filter(F.col("tokens") != F.col("tokens_in")).count())
    assert bad == 0


def test_metrics_lineage_totals(spark, pipeline_out, golden):
    m = read_metrics(spark, OUT)
    tot_fail = m.agg(F.sum("parse_fail")).collect()[0][0]
    assert tot_fail == golden["dlq"]["parse_fail"]
    assert "batch_id" in m.columns  # lineage: which slice produced what


# a tag shared by every source, so distinct_sources > 1; the default
# tag app.<source>.<kind> has exactly one source per tag
KIND_TAG = "concat('k.', coalesce(fields.kind, 'raw'))"


@pytest.mark.parametrize("input_format,tag_expr", [
    ("tokens", None), ("tokens", KIND_TAG), ("text", KIND_TAG)],
    ids=["tokens-default_tag", "tokens-kind_tag", "text-kind_tag"])
def test_metrics_match_oracle(spark, fixture_paths, tmp_path, input_format,
                              tag_expr):
    """Every ``_metrics`` row (records, sum_n_tok, distinct_sources,
    parse_fail, no_route per tag) equals the row-at-a-time oracle's,
    rewrite copies included, for tokens and text input."""
    from tests.oracle_pandas import (default_tag, route_records,
                                     text_records, token_records)
    if input_format == "tokens":
        inp = fixture_paths["tokens"]
        records = token_records(inp, fx.vocab())
    else:
        inp = _text_input(fixture_paths, tmp_path)
        records = text_records(inp)
    spec = _spec(fixture_paths)
    spec.tag_expr = tag_expr
    tag_fn = (default_tag if tag_expr is None
              else lambda source, kind: f"k.{kind or 'raw'}")
    want = route_records(records, fx.DEFAULT_ROUTES, tag_fn=tag_fn)["tags"]
    out = str(tmp_path / "o")
    run_pipeline(spark, spec, inp, out, input_format=input_format)
    cols = ("records", "sum_n_tok", "distinct_sources", "parse_fail",
            "no_route")
    got = {r.tag: {c: r[c] for c in cols}
           for r in read_metrics(spark, out).collect()}
    assert got == want
    if tag_expr:
        assert max(g["distinct_sources"] for g in got.values()) > 1


def test_metrics_reconcile_with_dlq_for_a_null_tag(spark, fixture_paths,
                                                   tmp_path):
    """A NULL tag is counted like any other: per tag, ``_metrics``
    parse_fail and no_route equal the DLQ rows with that tag and
    reason, and the records sum to the slice's row count."""
    spec = _spec(fixture_paths)
    spec.tag_expr = ("CASE WHEN source = 'src3' THEN NULL ELSE "
                     "concat('app.', source, '.', "
                     "coalesce(fields.kind, 'raw')) END")
    out = str(tmp_path / "o")
    stats = run_pipeline(spark, spec, fixture_paths["tokens"], out)
    got = {r.tag: (r.parse_fail, r.no_route, r.records)
           for r in read_metrics(spark, out).collect()}
    reason = F.col("dlq_reason")
    dlq = {r.tag: (r.pf, r.nr) for r in read_dlq(spark, out).groupBy("tag")
           .agg(F.sum((reason == "parse_fail").cast("long")).alias("pf"),
                F.sum((reason == "no_route").cast("long")).alias("nr"))
           .collect()}
    assert dlq[None][0] > 0 and dlq[None][1] > 0
    assert set(dlq) <= set(got)
    assert {t: g[:2] for t, g in got.items()} \
        == {t: dlq.get(t, (0, 0)) for t in got}
    assert sum(g[2] for g in got.values()) == stats["rows_in"]


@pytest.mark.parametrize("scheme", ["", "file:"])
def test_resume_is_idempotent_and_skips_done(spark, fixture_paths,
                                             tmp_path, scheme):
    """Kill after slice 0 of 2 → resume → identical sink contents, and the
    completed slice is not re-run (checkpoint manifest). Parametrized
    over a plain path and a ``file:`` URI — the manifest/checkpoint IO
    goes through the Hadoop FileSystem API, so a schemeful output_dir
    (the s3a://hdfs:// deployment shape) must behave identically."""
    out1, out2 = scheme + str(tmp_path / "a"), scheme + str(tmp_path / "b")
    spec = _spec(fixture_paths)
    split_dir = _split_input(spark, fixture_paths, tmp_path)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, spec, split_dir, out1, n_slices=2,
                     fail_after_slice=0)
    stats = run_pipeline(spark, spec, split_dir, out1, n_slices=2)
    assert stats["slices_skipped"] == 1  # slice 0 not recomputed
    run_pipeline(spark, spec, split_dir, out2, n_slices=2)  # clean run
    for sink in ("sink_web", "sink_json"):
        a = sorted(r.doc_id for r in
                   read_sink(spark, out1, sink).select("doc_id").collect())
        b = sorted(r.doc_id for r in
                   read_sink(spark, out2, sink).select("doc_id").collect())
        assert a == b, sink


def test_resume_fails_when_the_file_plan_changed(spark, fixture_paths,
                                                tmp_path):
    """Slices are cut from the sorted file listing by position, so a
    file added before a resume, or another n_slices, would hand a
    committed slice's files to other slices: some rows lost, others
    written twice. The resume fails before any write instead, naming
    the slice; an unchanged resume still skips the committed slice."""
    import pyarrow.parquet as pq
    tok = pq.read_table(fixture_paths["tokens"]).slice(0, 400)
    inp = tmp_path / "inp"
    inp.mkdir()
    for k, name in enumerate("acde"):
        pq.write_table(tok.slice(100 * k, 100), str(inp / f"{name}.parquet"))
    spec = _spec(fixture_paths)
    out = str(tmp_path / "o")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, spec, str(inp), out, n_slices=2,
                     fail_after_slice=0)
    with pytest.raises(ValueError, match="slice 0"):
        run_pipeline(spark, spec, str(inp), out, n_slices=3)
    pq.write_table(tok.slice(0, 10), str(inp / "b.parquet"))
    with pytest.raises(ValueError, match="slice 0"):
        run_pipeline(spark, spec, str(inp), out, n_slices=2)
    assert not os.path.exists(f"{out}/sinks/sink_web/batch_id=1")
    os.remove(inp / "b.parquet")
    stats = run_pipeline(spark, spec, str(inp), out, n_slices=2)
    assert stats["slices_skipped"] == 1 and stats["slices_total"] == 2


def test_unknown_formats_fail_before_any_write(spark, fixture_paths,
                                              tmp_path):
    """An input or sink format outside the adapter and writer tables is
    an error, not a silent fall-back to the tokens reader or the
    parquet writer."""
    spec = _spec(fixture_paths)
    out = str(tmp_path / "o")
    with pytest.raises(ValueError, match="input format must be tokens"):
        run_pipeline(spark, spec, fixture_paths["tokens"], out,
                     input_format="nope")
    spec.sink_format = "nope"
    with pytest.raises(ValueError, match="sink format must be parquet"):
        run_pipeline(spark, spec, fixture_paths["tokens"], out)
    assert not os.path.exists(out)


@pytest.mark.parametrize("n_slices", [0, -1])
def test_slice_count_below_one_raises(spark, fixture_paths, tmp_path,
                                      n_slices):
    """A slice count below 1 cuts no slice, so the call would write
    nothing and report success. It raises before any listing or write."""
    out = str(tmp_path / "o")
    with pytest.raises(ValueError, match="n_slices"):
        run_pipeline(spark, _spec(fixture_paths), fixture_paths["tokens"],
                     out, n_slices=n_slices)
    assert not os.path.exists(f"{out}/sinks")
    assert not os.path.exists(f"{out}/_checkpoints")


@pytest.mark.parametrize("sink_format", ["parquet", "json_lines"])
def test_sinks_match_oracle(spark, fixture_paths, golden, tmp_path,
                            sink_format):
    """The one-job fan-out (rows exploded over their routes mask, staged,
    renamed per sink) lands each sink's (doc_id, tag) pairs exactly as
    the oracle routes them, once each, and leaves no stage behind. The
    slice totals from the DLQ write's Observation count every emitted
    row, rewrite copies included."""
    spec = _spec(fixture_paths)
    spec.sink_format = sink_format
    out = str(tmp_path / "o")
    stats = run_pipeline(spark, spec, fixture_paths["tokens"], out)
    for sink, g in golden["sinks"].items():
        if g["records"]:
            assert _sink_pairs(spark, out, sink, sink_format) \
                == g["pairs"], sink
    assert stats["rows_in"] == golden["emitted"]
    assert stats["rows_dlq"] == sum(golden["dlq"].values())
    assert not os.path.exists(os.path.join(out, "_stage"))


def test_publish_crash_then_resume_lands_each_pair_once(
        spark, fixture_paths, golden, tmp_path, monkeypatch):
    """A crash inside the staged publish — slice 0 committed, slice 1's
    first sink already renamed into place — then a resume leaves every
    sink equal to a clean run and to the oracle: no pair twice, none
    lost, no stage left behind."""
    from fluent_bit_spark.plans import fsio

    split_dir = _split_input(spark, fixture_paths, tmp_path)
    spec = _spec(fixture_paths)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    rename, published = fsio.rename, []

    def flaky_rename(spark_, src, dst):
        if dst.endswith("batch_id=1") and published:
            raise IOError("injected rename failure")
        rename(spark_, src, dst)
        if dst.endswith("batch_id=1"):
            published.append(dst)

    monkeypatch.setattr(fsio, "rename", flaky_rename)
    with pytest.raises(IOError, match="injected rename failure"):
        run_pipeline(spark, spec, split_dir, crashed, n_slices=2)
    monkeypatch.setattr(fsio, "rename", rename)
    assert len(published) == 1
    assert os.path.isdir(os.path.join(crashed, "_stage", "batch_id=1"))

    stats = run_pipeline(spark, spec, split_dir, crashed, n_slices=2)
    assert stats["slices_skipped"] == 1
    run_pipeline(spark, spec, split_dir, clean, n_slices=2)
    assert not os.path.exists(os.path.join(crashed, "_stage"))
    for sink, g in golden["sinks"].items():
        if not g["records"]:
            continue
        got = _sink_pairs(spark, crashed, sink)
        assert len(set(got)) == len(got), sink
        assert got == _sink_pairs(spark, clean, sink) == g["pairs"], sink


def _dlq_pairs(spark, out: str) -> list[tuple[str, str]]:
    return sorted((r.doc_id, r.dlq_reason) for r in
                  read_dlq(spark, out).select("doc_id", "dlq_reason")
                  .collect())


def test_failed_sink_write_beside_a_tail_is_loud(
        spark, fixture_paths, golden, tmp_path, monkeypatch):
    """Slice 1's sink write fails while slice 0's tail jobs still run
    beside it and slice 2 is planned. The call raises that error only
    after slice 0's tail has ended: slice 0 commits, slice 1 does not,
    no job is left running and every checkpoint is released, slice 2's
    never filled one too. The resume then lands sinks and DLQ equal to
    a clean run and to the oracle."""
    from fluent_bit_spark.plans import pipeline

    split_dir = str(tmp_path / "split3")
    spark.read.parquet(fixture_paths["tokens"]).repartition(3) \
        .write.parquet(split_dir)
    spec = _spec(fixture_paths)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    write, metrics = pipeline.SINK_WRITERS["parquet"], pipeline._write_metrics
    failed = threading.Event()

    def failing_write(spark_, good, cols, spec_, out, i, sinks):
        if i == 1:
            failed.set()
            raise IOError("injected sink write failure")
        return write(spark_, good, cols, spec_, out, i, sinks)

    def late_metrics(stored, spec_, out, i):
        # slice 0's tail is still in flight when slice 1's write fails
        if i == 0:
            assert failed.wait(60)
        metrics(stored, spec_, out, i)

    monkeypatch.setitem(pipeline.SINK_WRITERS, "parquet", failing_write)
    monkeypatch.setattr(pipeline, "_write_metrics", late_metrics)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    with pytest.raises(IOError, match="injected sink write failure"):
        run_pipeline(spark, spec, split_dir, crashed, n_slices=3)
    # the status tracker learns of ended jobs through the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert rdds().size() == before
    manifests = os.listdir(os.path.join(crashed, "_checkpoints", "run0"))
    assert sorted(m for m in manifests if m.endswith(".json")) \
        == ["slice_0.json"]
    monkeypatch.undo()

    stats = run_pipeline(spark, spec, split_dir, crashed, n_slices=3)
    assert stats["slices_skipped"] == 1
    run_pipeline(spark, spec, split_dir, clean, n_slices=3)
    assert not os.path.exists(os.path.join(crashed, "_stage"))
    for sink, g in golden["sinks"].items():
        if g["records"]:
            assert _sink_pairs(spark, crashed, sink) \
                == _sink_pairs(spark, clean, sink) == g["pairs"], sink
    got = _dlq_pairs(spark, crashed)
    assert got == _dlq_pairs(spark, clean)
    assert {r: sum(1 for _, x in got if x == r) for r in golden["dlq"]} \
        == golden["dlq"]


def test_injected_crash_never_starts_the_next_slice(
        spark, fixture_paths, tmp_path, monkeypatch):
    """``fail_after_slice=0`` commits slice 0 and never plans slice 1:
    nothing of slice 1 is staged or published."""
    from fluent_bit_spark.plans import pipeline

    split_dir = _split_input(spark, fixture_paths, tmp_path)
    out = str(tmp_path / "o")
    read, planned = pipeline.read_routed, []

    def recording_read(spark_, spec_, fmt, files, i, side_tables=None):
        planned.append(i)
        return read(spark_, spec_, fmt, files, i, side_tables)

    monkeypatch.setattr(pipeline, "read_routed", recording_read)
    with pytest.raises(RuntimeError, match="injected failure after slice 0"):
        run_pipeline(spark, _spec(fixture_paths), split_dir, out,
                     n_slices=2, fail_after_slice=0)
    assert planned == [0]
    assert os.path.exists(f"{out}/_checkpoints/run0/slice_0.json")
    assert not os.path.exists(f"{out}/_stage/batch_id=1")
    assert not glob.glob(f"{out}/sinks/*/batch_id=1")
    assert glob.glob(f"{out}/sinks/*/batch_id=0")


def test_every_job_keeps_the_callers_job_group(spark, fixture_paths,
                                              tmp_path):
    """The jobs a 2-slice run starts from its pool threads keep the
    caller's job group: every job between two marker jobs is in the
    group, none lands in no group, and wrapping the threads raises no
    "Spark session is not provided" warning."""
    inp = _split_input(spark, fixture_paths, tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(name: str) -> int:
        sc.setJobGroup(name, name)
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        [job] = tracker.getJobIdsForGroup(name)
        return job

    ungrouped = set(tracker.getJobIdsForGroup(None))
    first = marker("job-group-before")
    group = "job-group-run"
    sc.setJobGroup(group, group)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            stats = run_pipeline(spark, _spec(fixture_paths), inp,
                                 str(tmp_path / "o"), n_slices=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last = marker("job-group-after")
    assert stats["slices_total"] == 2
    assert sorted(tracker.getJobIdsForGroup(group)) \
        == list(range(first + 1, last))
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert not [w for w in caught
                if "Spark session is not provided" in str(w.message)]


def test_empty_sink_slice_replaces_stale_attempt(spark, fixture_paths,
                                                 golden, tmp_path):
    """A slice that routes no rows to a sink, redone over that sink's
    directory from an earlier attempt, leaves no stale rows there, and
    read_sink behaves as after a filtered write of no rows: an empty
    batch directory is skipped, and a sink with no rows at all has no
    schema to read."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    # slice 0 holds every source but src1, slice 1 only src1: sink_src1
    # gets no rows in slice 0, sink_none none in either
    tok = pq.read_table(fixture_paths["tokens"])
    is_src1 = pc.equal(tok["source"], "src1")
    inp = tmp_path / "inp"
    inp.mkdir()
    pq.write_table(tok.filter(pc.invert(is_src1)), str(inp / "a.parquet"))
    pq.write_table(tok.filter(is_src1), str(inp / "b.parquet"))
    spec = _spec(fixture_paths)
    spec.routes = spec.routes + [Route("sink_none", "nomatch.*")]
    out = str(tmp_path / "o")
    stale = spark.createDataFrame(
        [("stale-0", "src1", "app.src1.json")],
        "doc_id string, source string, tag string")
    for sink in ("sink_src1", "sink_none"):
        for b in (0, 1):
            stale.write.partitionBy("source").parquet(
                f"{out}/sinks/{sink}/batch_id={b}")

    run_pipeline(spark, spec, str(inp), out, n_slices=2)
    for sink in ("sink_src1", "sink_none"):
        assert os.listdir(f"{out}/sinks/{sink}/batch_id=0") == [], sink
    assert _sink_pairs(spark, out, "sink_src1") \
        == golden["sinks"]["sink_src1"]["pairs"]
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_sink(spark, out, "sink_none")


def _text_input(fixture_paths, tmp_path, n_files: int = 2) -> str:
    """The first 2000 fixture rows decoded to lines, as ``n_files``
    .log files (one slice each)."""
    import pyarrow.parquet as pq

    from tests.oracle_pandas import decode_row
    tok = pq.read_table(fixture_paths["tokens"]).slice(0, 2000)
    lines = [decode_row(t, fx.vocab()) for t in tok["tokens"].to_pylist()]
    d = tmp_path / "logs"
    d.mkdir()
    for k in range(n_files):
        (d / f"part{k}.log").write_text("\n".join(lines[k::n_files]) + "\n")
    return str(d)


@pytest.mark.parametrize(
    "input_format,sink_format,jobs_per_slice,jobs_per_call",
    [("tokens", "parquet", 6, 1), ("text", "json_lines", 6, 1)],
    ids=["tokens-parquet", "text-json_lines"])
def test_spark_jobs_per_slice_do_not_grow(spark, fixture_paths, tmp_path,
                                          input_format, sink_format,
                                          jobs_per_slice, jobs_per_call):
    """A run starts no more Spark jobs per slice, and no more once per
    call, than the counts written here, measured when the slice body
    was last changed. A one-slice and a two-slice run of the same input
    tell the two apart. An extra action in the slice body fails this
    test, and so does a per-call step moved into the slice (the lookup
    dim's schema inference is the one job per call; the listing starts
    none)."""
    inp = (_split_input(spark, fixture_paths, tmp_path)
           if input_format == "tokens"
           else _text_input(fixture_paths, tmp_path))
    spec = _spec(fixture_paths)
    spec.sink_format = sink_format
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 2):
        group = f"jobs-per-slice-{input_format}-{n}"
        sc.setJobGroup(group, group)
        try:
            stats = run_pipeline(spark, spec, inp, str(tmp_path / f"o{n}"),
                                 n_slices=n, input_format=input_format)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats["slices_total"] == n
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    per_slice = jobs[2] - jobs[1]
    assert per_slice <= jobs_per_slice
    assert jobs[1] - per_slice <= jobs_per_call


@pytest.mark.parametrize("sink_format", ["parquet", "json_lines"])
def test_each_sink_partition_gets_one_file(spark, fixture_paths, tmp_path,
                                           sink_format):
    """The staged write is rebalanced by (sink, source): a slice read by
    several scan tasks, each seeing every source, still writes one data
    file per ``sinks/<s>/batch_id=<i>/source=<x>`` directory, not one
    per task that saw the group."""
    inp = _split_input(spark, fixture_paths, tmp_path)
    tune_scan_partitions(spark, inp)
    assert spark.read.parquet(inp).rdd.getNumPartitions() >= 2
    spec = _spec(fixture_paths)
    spec.sink_format = sink_format
    out = str(tmp_path / "o")
    run_pipeline(spark, spec, inp, out)
    dirs = 0
    for root, _, files in os.walk(os.path.join(out, "sinks")):
        if os.path.basename(root).startswith("source="):
            dirs += 1
            data = [f for f in files if f.startswith("part-")]
            assert len(data) == 1, (root, data)
    assert dirs > 1


def test_slice_cache_is_released(spark, fixture_paths, tmp_path,
                                 monkeypatch):
    """The slice's stored frame is freed after every slice, and when a
    write inside the slice raises: the SparkContext holds as many
    persisted RDDs after a run as before it."""
    from fluent_bit_spark.plans import fsio
    split_dir = _split_input(spark, fixture_paths, tmp_path)
    spec = _spec(fixture_paths)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    run_pipeline(spark, spec, split_dir, str(tmp_path / "a"), n_slices=2)
    assert rdds().size() == before

    def failing_rename(spark_, src, dst):
        raise IOError("injected rename failure")

    monkeypatch.setattr(fsio, "rename", failing_rename)
    with pytest.raises(IOError, match="injected rename failure"):
        run_pipeline(spark, spec, split_dir, str(tmp_path / "b"))
    assert rdds().size() == before


def test_every_row_lands_somewhere(spark, fixture_paths):
    """Routing partition property: every input row appears in ≥1 sink or
    the DLQ (rewrite keep=True rows may appear in several)."""
    spec = _spec(fixture_paths)
    df = spark.read.parquet(fixture_paths["tokens"])
    routed = build_stages(spark, df, spec)
    uncovered = routed.filter(
        (F.size("sinks") == 0) & F.col("dlq_reason").isNull()).count()
    assert uncovered == 0


def test_edge_rows_route_to_dlq(spark, fixture_paths):
    """Empty token arrays and unparseable content must flow to the DLQ,
    never crash the fused arrow stage (schema-on-write contract)."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.operators.router import Route
    from fluent_bit_spark.plans.pipeline import PipelineSpec, build_stages

    df = spark.createDataFrame(
        [("e1", [], 0, "src0"),                # empty tokens → decoded ""
         ("e2", [0, 1, 2], 3, "src1"),         # garbage pieces
         ("e3", None, None, "src2")],          # null tokens
        "doc_id string, tokens array<int>, n_tok int, source string")
    spec = PipelineSpec(vocab=fx.vocab(),
                        routes=[Route(*r) for r in fx.DEFAULT_ROUTES])
    routed = build_stages(spark, df, spec)
    got = {r.doc_id: (r.dlq_reason, r.decoded is not None)
           for r in routed.collect()}
    assert got["e1"][0] == "parse_fail"
    assert got["e3"][0] == "parse_fail"
    assert len(got) == 3


def test_json_lines_sink_format(spark, fixture_paths, tmp_path):
    """sink_format='json_lines' routes the same row set as parquet and
    each sink file is valid newline-delimited JSON (out_file Format
    json_lines posture)."""
    import json as _json
    spec_p = _spec(fixture_paths)
    spec_j = _spec(fixture_paths)
    spec_j.sink_format = "json_lines"
    op, oj = str(tmp_path / "p"), str(tmp_path / "j")
    run_pipeline(spark, spec_p, fixture_paths["tokens"], op)
    run_pipeline(spark, spec_j, fixture_paths["tokens"], oj)
    for sink in ("sink_web", "sink_json"):
        want = sorted(r.doc_id for r in
                      read_sink(spark, op, sink).select("doc_id").collect())
        lines = [r.value for r in
                 spark.read.text(f"{oj}/sinks/{sink}").collect()]
        got = sorted(_json.loads(ln)["doc_id"] for ln in lines)
        assert got == want, sink


def test_text_input_routes_like_tokens_input(spark, fixture_paths,
                                             tmp_path):
    """Raw-text ingestion (spark.read.text over .log files) must route
    the SAME per-sink record counts as the tokens path fed the
    identical decoded lines — parse, tag, route, fan-out all shared."""
    from fluent_bit_spark.functions.parsers import fused_detok_parse

    tok = spark.read.parquet(fixture_paths["tokens"]).limit(2000)
    sub = str(tmp_path / "tok_sub")
    tok.write.parquet(sub)
    tok = spark.read.parquet(sub)
    dec = fused_detok_parse(tok, spark, fx.vocab()) \
        .select("decoded", "source")
    logs = str(tmp_path / "logs")
    for src in [r.source for r in dec.select("source").distinct()
                .collect()]:
        (dec.filter(F.col("source") == src).select("decoded")
            .coalesce(1).write.mode("overwrite")
            .text(f"{logs}/{src}.log"))

    spec = PipelineSpec(vocab=fx.vocab(),
                        routes=[Route(*r) for r in fx.DEFAULT_ROUTES])
    ot, ox = str(tmp_path / "from_tokens"), str(tmp_path / "from_text")
    run_pipeline(spark, spec, sub, ot)
    # glob: write.text made one directory per source file
    run_pipeline(spark, spec, f"{logs}/*", ox, input_format="text")

    for sink in ("sink_web", "sink_json", "sink_kv"):
        a = read_sink(spark, ot, sink).count()
        b = read_sink(spark, ox, sink).count()
        assert a == b > 0, sink
    # DLQ parse failures also agree (same parser over the same lines)
    da = read_dlq(spark, ot).filter(
        F.col("dlq_reason") == "parse_fail").count()
    db = read_dlq(spark, ox).filter(
        F.col("dlq_reason") == "parse_fail").count()
    assert da == db


def test_run_pack_job_main(spark, fixture_paths, tmp_path, monkeypatch):
    """jobs/run_pack.py CLI surface in-suite: hash order, conservation
    check, JSON report — without spawning spark-submit."""
    import json
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_pack

    out = str(tmp_path / "pack_out")
    monkeypatch.setattr(sys, "argv", [
        "run_pack.py", "--input", fixture_paths["tokens"],
        "--output", out, "--ctx", "128", "--sep-token", "-1"])
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_pack.main() == 0
    rep = json.loads(printed[-1])
    assert rep["conserved"] and rep["order"] == "hash"
    assert rep["tokens_out"] == rep["tokens_in"] + rep["rows_in"]


def test_run_pack_job_nosplit_mode(spark, fixture_paths, tmp_path,
                                   monkeypatch):
    """jobs/run_pack.py --mode nosplit: conservation holds, no packed
    bin exceeds ctx, fill_rate is coherent with pad_tokens, and
    incompatible flags are rejected."""
    import json
    import sys

    import pytest

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_pack

    out = str(tmp_path / "pack_ns")
    monkeypatch.setattr(sys, "argv", [
        "run_pack.py", "--input", fixture_paths["tokens"],
        "--output", out, "--ctx", "128", "--mode", "nosplit"])
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_pack.main() == 0
    rep = json.loads(printed[-1])
    assert rep["conserved"] and rep["mode"] == "nosplit"
    assert 0 < rep["fill_rate"] <= 1
    # fill_rate is reported at 4 decimals — compare within that grain
    assert abs(rep["pad_tokens"]
               - (1 - rep["fill_rate"]) * rep["bins"] * 128) \
        <= rep["bins"] * 128 * 1e-4 + 0.5
    p = spark.read.parquet(f"{out}/packed")
    from pyspark.sql import functions as F
    assert p.filter(~F.col("overlong")
                    & (F.col("n_tok_bin") > 128)).count() == 0
    monkeypatch.setattr(sys, "argv", [
        "run_pack.py", "--input", fixture_paths["tokens"],
        "--output", out, "--mode", "nosplit", "--sep-token", "-1"])
    with pytest.raises(SystemExit):
        run_pack.main()


def test_csv_and_ltsv_sink_formats(spark, fixture_paths, tmp_path):
    """sink_format csv/ltsv route the same row set as parquet and each
    sink line is byte-identical to the serializer applied to the routed
    frame (out_file Format csv/ltsv posture; complex columns as
    JSON)."""
    from fluent_bit_spark.functions.serialize import (to_csv_line,
                                                      to_ltsv_line)
    from fluent_bit_spark.plans.pipeline import build_stages
    sink = "sink_web"
    for fmt, ser in (("csv", to_csv_line), ("ltsv", to_ltsv_line)):
        spec_t = _spec(fixture_paths)
        spec_t.sink_format = fmt
        out = str(tmp_path / fmt)
        run_pipeline(spark, spec_t, fixture_paths["tokens"], out)
        # expected lines: the serializer applied to the LIVE routed
        # frame (the parquet read-back reorders partition columns)
        spec_w = _spec(fixture_paths)
        routed = build_stages(
            spark, spark.read.parquet(fixture_paths["tokens"]), spec_w)
        good = (routed.filter(F.col("dlq_reason").isNull())
                .filter(F.array_contains("sinks", sink)))
        payload_cols = [c for c in good.columns
                        if c not in ("sinks", "routes_mask", "dlq_reason",
                                     "_lineage")]
        want = sorted(r.value for r in
                      ser(good, payload_cols).select("value").collect())
        got = sorted(r.value for r in
                     spark.read.text(f"{out}/sinks/{sink}").collect())
        assert got == want, fmt
        if fmt == "ltsv":
            assert all("\t" in ln and "doc_id:" in ln for ln in got)


def test_run_quality_job_main(spark, fixture_paths, tmp_path, monkeypatch):
    """jobs/run_quality.py CLI surface in-suite: surprisal scoring,
    ceiling drop, stratified split, exact doc/token conservation."""
    import json
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_quality

    out = str(tmp_path / "quality_out")
    monkeypatch.setattr(sys, "argv", [
        "run_quality.py", "--input", fixture_paths["tokens"],
        "--output", out, "--holdout", "100",
        "--rate", "web", "300", "--max-mean-millinats", "10500"])
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_quality.main() == 0
    rep = json.loads(printed[-1])
    assert rep["conserved"]
    assert rep["train"] + rep["holdout"] + rep["dropped"] == rep["docs_in"]
    assert rep["tokens_scored"] == rep["tokens_in"]
    # the three output slices are disjoint and cover the input ids
    ids = {}
    for k in ("train", "holdout", "dropped"):
        ids[k] = {r.doc_id for r in
                  spark.read.parquet(f"{out}/{k}")
                  .select("doc_id").collect()}
    assert not (ids["train"] & ids["holdout"])
    assert not (ids["train"] & ids["dropped"])
    n_all = len(ids["train"] | ids["holdout"] | ids["dropped"])
    assert n_all == rep["docs_in"]
    # the split respects the mean-surprisal ceiling on kept rows
    kept = spark.read.parquet(f"{out}/train")
    bad = kept.filter("nll_millinats > 10500 * n_tok_scored").count()
    assert bad == 0


def test_run_quality_bigram_model(spark, fixture_paths, tmp_path,
                                  monkeypatch):
    """--model bigram: scoring unit becomes ADJACENT PAIRS — exact
    conservation against sum(max(n_tok - 1, 0)) instead of token
    count; sub-2-token docs keep a zero-score row."""
    import json
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_quality

    out = str(tmp_path / "quality_bg")
    monkeypatch.setattr(sys, "argv", [
        "run_quality.py", "--input", fixture_paths["tokens"],
        "--output", out, "--model", "bigram"])
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_quality.main() == 0
    rep = json.loads(printed[-1])
    assert rep["model"] == "bigram" and rep["conserved"]
    assert rep["tokens_scored"] == rep["tokens_expected"]
    assert rep["tokens_expected"] < rep["tokens_in"]   # pairs < tokens
    assert rep["train"] == rep["docs_in"]              # no drop, no holdout


def test_template_sink_format(spark, fixture_paths, tmp_path):
    """sink_format template (out_file Format template): each sink line
    is the {key}-rendered record, byte-identical to to_template over
    the routed frame; dotted keys reach into structs, nulls render
    empty."""
    from fluent_bit_spark.functions.serialize import to_template
    from fluent_bit_spark.plans.pipeline import build_stages
    tpl = "{tag} {doc_id} kind={fields.kind} n={n_tok}"
    spec_t = _spec(fixture_paths)
    spec_t.sink_format = "template"
    spec_t.sink_template = tpl
    out = str(tmp_path / "tpl")
    run_pipeline(spark, spec_t, fixture_paths["tokens"], out)
    spec_w = _spec(fixture_paths)
    routed = build_stages(
        spark, spark.read.parquet(fixture_paths["tokens"]), spec_w)
    good = (routed.filter(F.col("dlq_reason").isNull())
            .filter(F.array_contains("sinks", "sink_web")))
    want = sorted(r.value for r in
                  to_template(good, tpl).select("value").collect())
    got = sorted(r.value for r in
                 spark.read.text(f"{out}/sinks/sink_web").collect())
    assert got == want and got
    assert all(" kind=" in ln for ln in got)


def test_gelf_sink_format(spark, fixture_paths, tmp_path):
    """sink_format gelf (out_gelf posture): each sink line is the GELF
    1.1 rendering of the routed record — fixed keys from gelf_keys
    (dotted keys reach into the fields struct), every other payload
    column as a _-prefixed extra — byte-identical to to_gelf over the
    routed frame."""
    from fluent_bit_spark.functions.serialize import to_gelf
    from fluent_bit_spark.plans.pipeline import build_stages
    sink = "sink_web"
    keys = {"host": "source", "message": "decoded",
            "ts": "fields.ts_raw", "level": "fields.level"}
    spec_t = _spec(fixture_paths)
    spec_t.sink_format = "gelf"
    spec_t.gelf_keys = keys
    out = str(tmp_path / "gelf")
    run_pipeline(spark, spec_t, fixture_paths["tokens"], out)
    spec_w = _spec(fixture_paths)
    routed = build_stages(
        spark, spark.read.parquet(fixture_paths["tokens"]), spec_w)
    good = (routed.filter(F.col("dlq_reason").isNull())
            .filter(F.array_contains("sinks", sink)))
    payload_cols = [c for c in good.columns
                    if c not in ("sinks", "routes_mask", "dlq_reason",
                                 "_lineage")]
    named = set(keys.values())
    want = sorted(r.value for r in to_gelf(
        good, keys["host"], keys["message"], keys["ts"],
        level_col=keys["level"],
        extra_cols=[c for c in payload_cols if c not in named])
        .select("value").collect())
    got = sorted(r.value for r in
                 spark.read.text(f"{out}/sinks/{sink}").collect())
    assert got == want and got
    import json as _json
    sample = _json.loads(got[0])
    assert sample["version"] == "1.1" and "host" in sample
    assert any(k.startswith("_") for k in sample)


def test_config_gelf_output(tmp_path):
    """[OUTPUT] Format gelf + Gelf_*_Key properties map onto
    PipelineSpec.gelf_keys with out_gelf's defaults; Gelf_* without
    Format gelf is rejected."""
    import pytest as _pytest
    from fluent_bit_spark.plans.config import spec_from_config
    conf = tmp_path / "g.conf"
    conf.write_text(
        "[INPUT]\n    Name tail\n\n"
        "[OUTPUT]\n    Name gelf\n    Match *\n    Sink s\n"
        "    Format gelf\n    Gelf_Host_Key source\n"
        "    Gelf_Short_Message_Key decoded\n"
        "    Gelf_Timestamp_Key fields.ts_raw\n")
    spec, _ = spec_from_config(str(conf))
    assert spec.sink_format == "gelf"
    assert spec.gelf_keys == {"host": "source", "message": "decoded",
                              "ts": "fields.ts_raw", "level": None}
    bad = tmp_path / "b.conf"
    bad.write_text(
        "[INPUT]\n    Name tail\n\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"
        "    Gelf_Host_Key source\n")
    with _pytest.raises(ValueError, match="needs Format gelf"):
        spec_from_config(str(bad))


def test_syslog_input_end_to_end(spark, tmp_path):
    """in_syslog TCP file subset: octet-framed capture files decode
    into messages that ride the shared text stages; framing errors
    land in the DLQ as frame_fail with the undecodable bytes kept;
    source derives from the capture filename."""
    cap = tmp_path / "captures"
    cap.mkdir()

    def frame(msgs: list[str]) -> bytes:
        return b"".join(
            str(len(m.encode())).encode() + b" " + m.encode()
            for m in msgs)

    good1 = [f'level=info msg="m{i}" code=200 dur_ms={i}'
             for i in range(3)]
    good2 = ['level=error msg="boom" code=500 dur_ms=9']
    (cap / "conn1.log").write_bytes(frame(good1))
    # second capture ends in a framing error (truncated length head)
    (cap / "conn2.log").write_bytes(frame(good2) + b"junk tail")

    spec = PipelineSpec(vocab=fx.vocab(),
                        routes=[Route("sink_kv", "*")])
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, spec, str(cap), out,
                         input_format="syslog")
    assert stats["rows_in"] == 5 and stats["rows_dlq"] == 1

    rows = read_sink(spark, out, "sink_kv").collect()
    assert {r.decoded for r in rows} == set(good1 + good2)
    assert {r.source for r in rows} == {"conn1", "conn2"}
    # the parsed stage saw each message as a logfmt record
    assert all(r.fields["kind"] == "logfmt" for r in rows)
    codes = sorted(int(r.fields["code"]) for r in rows)
    assert codes == [200, 200, 200, 500]

    dlq = read_dlq(spark, out).collect()
    assert len(dlq) == 1 and dlq[0].dlq_reason == "parse_fail"
    assert dlq[0].decoded.startswith("junk")

    # config front end maps [INPUT] Name syslog; datagram modes are a
    # text input, not a framed one
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    base = ("[INPUT]\n    Name syslog\n{m}"
            "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")
    _, io = spec_from_tree(parse_classic(base.format(m="")),
                           vocab=["x"])
    assert io["input_format"] == "syslog"
    with pytest.raises(ValueError, match="Mode tcp"):
        spec_from_tree(parse_classic(
            base.format(m="    Mode udp\n")), vocab=["x"])


def _logfmt(prefix: str, n: int, level: str = "info") -> list[str]:
    return [f'level={level} msg="{prefix}{i}" code=200 dur_ms={i}'
            for i in range(n)]


def _octet_frames(msgs: list[str]) -> bytes:
    return b"".join(str(len(m.encode())).encode() + b" " + m.encode()
                    for m in msgs)


def _stream_task_input(spark, fmt: str, d) -> tuple[str, dict, int]:
    """Write a small ``fmt`` input under ``d``. Returns the [INPUT]
    section, the per-tag counts of its decoder-ok records, and the
    number of decoder-rejected records (one where the format has a
    decoder that can reject)."""
    d.mkdir()
    a, b = _logfmt("a", 3), _logfmt("b", 2, "error")
    if fmt == "tokens":
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = [(f"doc{i}", src, line) for i, (src, line) in
                enumerate([("srcA", x) for x in a]
                          + [("srcB", x) for x in b])]
        pq.write_table(pa.table({
            "doc_id": [r[0] for r in rows],
            "tokens": pa.array([[ord(c) for c in r[2]] for r in rows],
                               pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[2]) for r in rows], pa.int32()),
            "source": [r[1] for r in rows]}), str(d / "t.parquet"))
        return ("[INPUT]\n    Name tail\n    Format tokens\n",
                {"app.srcA.logfmt": 3, "app.srcB.logfmt": 2}, 0)
    if fmt == "text":
        (d / "web.log").write_text("\n".join(a) + "\n")
        (d / "db.log").write_text("\n".join(b) + "\n")
        return ("[INPUT]\n    Name tail\n    Format text\n",
                {"app.web.logfmt": 3, "app.db.logfmt": 2}, 0)
    if fmt == "forward":
        from fluent_bit_spark.sources import forward as fwd
        rows = [(f"doc{i}", [ord(c) for c in line], len(line), src, tag)
                for i, (src, tag, line) in enumerate(
                    [("srcA", "fw.a", x) for x in a]
                    + [("srcB", "fw.b", x) for x in b])]
        df = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, "
                  "source string, tag string")
        fwd.write_forward_chunks(
            fwd.pack_chunks_arrow(df, "tag", ["doc_id", "tokens", "n_tok",
                                              "source"]), str(d))
        return ("[INPUT]\n    Name forward\n",
                {"fw.a": 3, "fw.b": 2}, 0)
    if fmt == "syslog":
        (d / "conn1.log").write_bytes(_octet_frames(a))
        # a truncated length head: one framing error
        (d / "conn2.log").write_bytes(_octet_frames(b) + b"junk tail")
        return ("[INPUT]\n    Name syslog\n",
                {"app.conn1.logfmt": 3, "app.conn2.logfmt": 2}, 1)
    if fmt == "kafka":
        from fluent_bit_spark.functions import kafka_codec as kc
        mk = lambda msgs: kc.encode_batch(
            0, [(1700000000000 + i, None, m.encode(), [])
                for i, m in enumerate(msgs)])
        (d / "web-aaaaaaaaaaaa.log").write_bytes(mk(a))
        corrupt = bytearray(mk(["level=info msg=x code=200 dur_ms=1"]))
        corrupt[-1] ^= 0xFF
        (d / "app-bbbbbbbbbbbb.log").write_bytes(mk(b) + bytes(corrupt))
        return ("[INPUT]\n    Name kafka\n", {"web": 3, "app": 2}, 1)
    if fmt == "systemd":
        from fluent_bit_spark.sources.journal_export import py_encode_entry
        ent = lambda unit, msg: py_encode_entry([
            ("MESSAGE", msg), ("PRIORITY", "6"), ("_SYSTEMD_UNIT", unit),
            ("__REALTIME_TIMESTAMP", "1700000000123456")])
        buf = b"".join([ent("nginx.service", m) for m in a]
                       + [ent("db.service", m) for m in b])
        (d / "host1.export").write_bytes(buf + b"???not a field\n\n")
        return ("[INPUT]\n    Name systemd\n",
                {"systemd.nginx.service": 3, "systemd.db.service": 2}, 1)
    assert fmt == "http"
    import json
    bodies = [json.dumps({"log": x}) for x in a]
    bodies.append(json.dumps([{"log": x, "tag": "web.b"} for x in b]))
    bodies.append("{not json")
    (d / "listener.log").write_text("\n".join(bodies) + "\n")
    return ("[INPUT]\n    Name http\n    Tag web.a\n    Tag_Key tag\n",
            {"web.a": 3, "web.b": 2}, 1)


@pytest.mark.parametrize("fmt", ["tokens", "text", "forward", "syslog",
                                 "kafka", "systemd", "http"])
def test_run_pipeline_cli_stream_task(spark, tmp_path, monkeypatch, fmt):
    """jobs/run_pipeline.py CLI with --config: the [STREAM_TASK] path
    reads the input through the configured format's decoder (never the
    tokens parquet reader for another format). Per-tag task counts
    equal a direct count over the decoder-ok records: a rejected record
    reaches the DLQ but no stream task, and a task sees no lineage
    column or another source than the sinks."""
    import json
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_pipeline as rp

    inp, want, rejected = _stream_task_input(spark, fmt, tmp_path / "in")
    streams = tmp_path / "tasks.streams"
    streams.write_text(
        "[STREAM_TASK]\n    Name by_tag\n"
        "    Exec SELECT RECORD_TAG() AS tag, COUNT(*) AS c "
        "FROM TAG:'*' GROUP BY RECORD_TAG();\n"
        "[STREAM_TASK]\n    Name all\n"
        "    Exec SELECT * FROM TAG:'*';\n")
    conf = tmp_path / "pipe.conf"
    conf.write_text(
        "[SERVICE]\n"
        f"    Streams_File {streams}\n"
        + inp +
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n")

    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--input", str(tmp_path / "in"),
        "--output", out, "--config", str(conf)])
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert rp.main() == 0
    rep = json.loads(printed[-1])
    n_ok = sum(want.values())
    assert rep["rows_in"] == n_ok + rejected
    assert rep["rows_dlq"] == rejected

    task = {r.tag: r.c for r in
            spark.read.parquet(f"{out}/stream_tasks/by_tag").collect()}
    assert task == want
    every = spark.read.parquet(f"{out}/stream_tasks/all")
    assert "_lineage" not in every.columns
    assert every.count() == n_ok
    # the tasks and the sinks see each record with the same source (an
    # empty source reads back from the sink's partition path as null)
    sources = lambda df: sorted(r.source or "" for r in
                                df.select("source").distinct().collect())
    assert sources(every) == sources(read_sink(spark, out, "s"))


def test_kafka_input_end_to_end(spark, tmp_path):
    """in_kafka file subset: RecordBatch v2 segment files decode into
    records that ride the shared text stages; the topic becomes the
    tag; a CRC-corrupted batch lands in the DLQ as parse_fail."""
    from fluent_bit_spark.functions import kafka_codec as kc

    seg = tmp_path / "segments"
    seg.mkdir()
    msgs_a = [f'level=info msg="k{i}" code=200 dur_ms={i}'
              for i in range(3)]
    msgs_b = ['level=error msg="boom" code=500 dur_ms=9']
    mk = lambda msgs: kc.encode_batch(
        0, [(1700000000000 + i, None, m.encode(), [])
            for i, m in enumerate(msgs)])
    (seg / "web-aaaaaaaaaaaa.log").write_bytes(mk(msgs_a))
    corrupt = bytearray(mk(msgs_b))
    corrupt[-1] ^= 0xFF
    (seg / "app-bbbbbbbbbbbb.log").write_bytes(mk(msgs_b)
                                               + bytes(corrupt))

    spec = PipelineSpec(vocab=fx.vocab(), routes=[Route("sink_kv", "*")])
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, spec, str(seg), out,
                         input_format="kafka")
    assert stats["rows_in"] == 5 and stats["rows_dlq"] == 1

    rows = read_sink(spark, out, "sink_kv").collect()
    assert {r.decoded for r in rows} == set(msgs_a + msgs_b)
    assert {r.tag for r in rows} == {"web", "app"}
    assert all(r.fields["kind"] == "logfmt" for r in rows)

    dlq = read_dlq(spark, out).collect()
    assert len(dlq) == 1 and dlq[0].dlq_reason == "parse_fail"

    # config front end maps [INPUT] Name kafka
    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    _, io = spec_from_tree(parse_classic(
        "[INPUT]\n    Name kafka\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
        vocab=["x"])
    assert io["input_format"] == "kafka"


def test_systemd_input_end_to_end(spark, tmp_path):
    """in_systemd file subset: journal export captures decode into
    MESSAGE-driven records tagged systemd.<unit>; a malformed entry
    lands in the DLQ with its partial fields kept."""
    from fluent_bit_spark.sources.journal_export import py_encode_entry

    cap = tmp_path / "journal"
    cap.mkdir()
    ent = lambda unit, msg: py_encode_entry([
        ("MESSAGE", msg), ("PRIORITY", "6"),
        ("_SYSTEMD_UNIT", unit),
        ("__REALTIME_TIMESTAMP", "1700000000123456")])
    msgs = [f'level=info msg="j{i}" code=200 dur_ms={i}'
            for i in range(3)]
    buf = b"".join(ent("nginx.service", m) for m in msgs)
    buf += ent("db.service", 'level=error msg="down" code=500 dur_ms=1')
    # a malformed trailing entry (garbage line)
    (cap / "host1.export").write_bytes(buf + b"???not a field\n\n")

    spec = PipelineSpec(vocab=fx.vocab(), routes=[Route("sink_kv", "*")])
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, spec, str(cap), out,
                         input_format="systemd")
    assert stats["rows_in"] == 5 and stats["rows_dlq"] == 1

    rows = read_sink(spark, out, "sink_kv").collect()
    assert {r.tag for r in rows} == {"systemd.nginx.service",
                                     "systemd.db.service"}
    assert all(r.fields["kind"] == "logfmt" for r in rows)

    dlq = read_dlq(spark, out).collect()
    assert len(dlq) == 1 and dlq[0].dlq_reason == "parse_fail"

    from fluent_bit_spark.plans.config import parse_classic, spec_from_tree
    _, io = spec_from_tree(parse_classic(
        "[INPUT]\n    Name systemd\n"
        "[OUTPUT]\n    Name file\n    Match *\n    Sink s\n"),
        vocab=["x"])
    assert io["input_format"] == "systemd"


def test_run_quality_dsir_mode(spark, fixture_paths, tmp_path,
                               monkeypatch):
    """--dsir-target: importance-resampling selection — exactly
    --dsir-top docs land in selected/, the rest in rejected/, doc
    conservation exact, and reruns with the same seed pick the same
    set (deterministic Gumbel)."""
    import json
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_quality

    out = str(tmp_path / "quality_dsir")
    argv = ["run_quality.py", "--input", fixture_paths["tokens"],
            "--output", out, "--dsir-target", "source = 'src1'",
            "--dsir-top", "200", "--dsir-buckets", "256"]
    monkeypatch.setattr(sys, "argv", argv)
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_quality.main() == 0
    rep = json.loads(printed[-1])
    assert rep["conserved"] and rep["model"] == "dsir"
    assert rep["selected"] == 200
    assert rep["selected"] + rep["rejected"] == rep["docs_in"]
    sel = spark.read.parquet(f"{out}/selected")
    ids1 = {r.doc_id for r in sel.select("doc_id").collect()}
    assert len(ids1) == 200
    # selected rows keep full input schema + score columns
    assert {"doc_id", "tokens", "n_tok", "source", "llr_millinats",
            "n_feat", "sel_key"} <= set(sel.columns)
    # deterministic rerun: same seed -> identical selection
    out2 = str(tmp_path / "quality_dsir2")
    monkeypatch.setattr(sys, "argv",
                        argv[:4] + [out2] + argv[5:])
    assert run_quality.main() == 0
    ids2 = {r.doc_id for r in spark.read.parquet(f"{out2}/selected")
            .select("doc_id").collect()}
    assert ids1 == ids2


def test_run_pack_job_fim_and_batch_modes(spark, fixture_paths,
                                          tmp_path, monkeypatch):
    """jobs/run_pack.py --mode fim / --mode batch: sentinel-exact
    conservation, batch budget bound, flag validation."""
    import json
    import sys

    import pytest

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_pack

    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))

    out = str(tmp_path / "fim_out")
    monkeypatch.setattr(sys, "argv", [
        "run_pack.py", "--input", fixture_paths["tokens"],
        "--output", out, "--mode", "fim", "--fim-rate", "800",
        "--seed", "5"])
    assert run_pack.main() == 0
    rep = json.loads(printed[-1])
    assert rep["conserved"] and rep["mode"] == "fim"
    assert rep["tokens_out"] == rep["tokens_in"] + 3 * rep["fim_docs"]
    assert 0 < rep["spm_docs"] < rep["fim_docs"]

    out2 = str(tmp_path / "batch_out")
    monkeypatch.setattr(sys, "argv", [
        "run_pack.py", "--input", fixture_paths["tokens"],
        "--output", out2, "--mode", "batch", "--ctx", "256",
        "--bucket-round", "32"])
    assert run_pack.main() == 0
    rep2 = json.loads(printed[-1])
    assert rep2["conserved"] and rep2["mode"] == "batch"
    assert rep2["max_batch_cost"] <= 256
    assert 0 < rep2["fill_rate"] <= 1

    monkeypatch.setattr(sys, "argv", [
        "run_pack.py", "--input", fixture_paths["tokens"],
        "--output", out2, "--mode", "fim", "--sep-token", "-1"])
    with pytest.raises(SystemExit):
        run_pack.main()


def test_run_pack_job_spans_and_ul2_modes(spark, fixture_paths,
                                          tmp_path, monkeypatch):
    """jobs/run_pack.py --mode spans / --mode ul2: token-partition
    conservation (every token in exactly one of inputs/targets, plus
    sentinel/paradigm overhead)."""
    import json
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_pack

    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    for mode in ("spans", "ul2"):
        out = str(tmp_path / mode)
        monkeypatch.setattr(sys, "argv", [
            "run_pack.py", "--input", fixture_paths["tokens"],
            "--output", out, "--mode", mode, "--seed", "3"])
        assert run_pack.main() == 0
        rep = json.loads(printed[-1])
        assert rep["conserved"] and rep["mode"] == mode
        assert rep["spans"] > 0
