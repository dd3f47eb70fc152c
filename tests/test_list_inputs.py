"""The input listing: ``_list_inputs`` (``fsio.list_files``) returns the
strings Spark's own ``inputFiles()`` returns for every input shape the
pipeline reads, lists on the driver without a Spark job, and a run whose
manifests hold ``inputFiles()`` strings resumes under it."""

from __future__ import annotations

import os

import pytest

from fluent_bit_spark.plans import pipeline
from fluent_bit_spark.plans.pipeline import (TOKENS_SCHEMA, _list_inputs,
                                             run_pipeline)


def _touch(path: str, data: bytes = b"x\n") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def _scan(spark, input_format: str, path: str):
    """The format's own reader, whose ``inputFiles()`` the listing
    must equal."""
    if input_format == "tokens":
        return spark.read.schema(TOKENS_SCHEMA).parquet(path)
    if input_format == "text":
        return spark.read.text(path)
    return spark.read.format("binaryFile").load(path)


def _spark_listing(spark, input_format: str, path: str) -> list[str]:
    return sorted(_scan(spark, input_format, path).inputFiles())


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory) -> dict[str, tuple[str, str]]:
    """name -> (input_format, path) for each input shape."""
    b = str(tmp_path_factory.mktemp("listing"))
    rows = spark.range(40).selectExpr(
        "cast(id as string) as doc_id", "array(1, 2) as tokens",
        "2 as n_tok", "concat('src', id % 3) as source")
    rows.repartition(2).write.parquet(f"{b}/pq")
    _touch(f"{b}/pq/_SUCCESS", b"")
    _touch(f"{b}/pq/_temporary/0/part-00009.snappy.parquet")
    assert any(n.endswith(".crc") for n in os.listdir(f"{b}/pq"))
    rows.write.partitionBy("source").parquet(f"{b}/part")
    for k in range(40):
        _touch(f"{b}/logs/d{k % 5}/f{k} #{k}.log")
    _touch(f"{b}/logs/d0/.hidden.log")
    _touch(f"{b}/logs/d0/_tmp.log")
    for k in range(3):
        _touch(f"{b}/cap/conn{k}.bin", bytes([k]) * 8)
    _touch(f"{b}/cap/.conn9.bin.crc")
    # no k=v directory under cap/, so Spark reads only its own files
    _touch(f"{b}/cap/old/conn7.bin")
    return {
        "parquet_dir": ("tokens", f"{b}/pq"),
        "partitioned_dir": ("tokens", f"{b}/part"),
        "glob_over_32_files": ("text", f"{b}/logs/*/*.log"),
        "single_file": ("text", f"{b}/logs/d1/f1 #1.log"),
        "glob_matching_dot_file": ("text", f"{b}/logs/d0/*"),
        "binary_capture_dir": ("syslog", f"{b}/cap"),
    }


@pytest.mark.parametrize("name", [
    "parquet_dir", "partitioned_dir", "glob_over_32_files", "single_file",
    "glob_matching_dot_file", "binary_capture_dir"])
def test_listing_equals_input_files(spark, inputs, name):
    input_format, path = inputs[name]
    got = _list_inputs(spark, input_format, path)
    assert got == _spark_listing(spark, input_format, path)
    assert got and all(f.startswith("file:///") for f in got)


def test_missing_path_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        _list_inputs(spark, "text", str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError):
        _list_inputs(spark, "text", str(tmp_path / "nope" / "*.log"))


def test_listing_starts_no_spark_job(spark, inputs):
    """Spark lists a glob of more than 32 matches in a job; the
    listing starts none."""
    _, glob = inputs["glob_over_32_files"]
    sc = spark.sparkContext
    jobs = {}
    for name, listing in (("ours", _list_inputs),
                          ("spark", _spark_listing)):
        group = f"listing-{name}"
        sc.setJobGroup(group, group)
        try:
            listing(spark, "text", glob)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {"ours": 0, "spark": 1}


def test_listing_py4j_calls_do_not_grow_with_files(spark, tmp_path,
                                                   monkeypatch):
    """Two trees of the same depth, one with twice the files, cost the
    same number of py4j calls (py4j's own deletes of collected Python
    proxies are not calls the listing makes, and are not counted)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    counts = {}
    for n in (20, 40):
        for k in range(n):
            _touch(str(tmp_path / f"t{n}" / f"d{k % 4}" / f"f{k}.log"))
        calls.clear()
        assert len(_list_inputs(spark, "text",
                                str(tmp_path / f"t{n}" / "*"))) == n
        counts[n] = len(calls)
    assert counts[20] == counts[40]


def test_manifest_from_input_files_resumes(spark, fixture_paths, tmp_path,
                                           monkeypatch):
    """A run whose committed manifest holds ``inputFiles()`` strings
    (how the input was listed before) resumes under the driver listing:
    the committed slice is skipped, not refused as a changed plan."""
    from tests.test_pipeline_e2e import _spec, _split_input
    spec = _spec(fixture_paths)
    inp = _split_input(spark, fixture_paths, tmp_path)
    out = str(tmp_path / "o")
    monkeypatch.setattr(pipeline, "_list_inputs",
                        lambda spark_, fmt, path:
                        _spark_listing(spark_, fmt, path))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, spec, inp, out, n_slices=2, fail_after_slice=0)
    monkeypatch.undo()
    stats = run_pipeline(spark, spec, inp, out, n_slices=2)
    assert stats["slices_skipped"] == 1 and stats["slices_total"] == 2
