"""Traced run: spans around the calls into each layer, plus counts read
from the Spark UI REST API.

The pipeline is replayed slice by slice from the benchmark's own code,
calling the same public functions as ``plans.pipeline.run_pipeline`` in
its order. Within a slice the lazy plan is forced at growing prefixes
(scan, then parse, then the full route/enrich plan, then the persist),
so a layer's self time is its prefix time minus the previous prefix
time. The later steps read the persisted frame and are timed directly.

Each span records its name, start, end, parent and the id of the run it
belongs to. Spans are kept in memory and written out once, at the end.
Every span also sets the Spark job group, so the jobs, stages and SQL
executions a span started can be found in the REST API afterwards.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fluent_bit_spark.functions.parsers import fused_detok_parse, with_parsed
from fluent_bit_spark.functions.serialize import to_json_lines
from fluent_bit_spark.plans import fsio
from fluent_bit_spark.plans.pipeline import (
    TOKENS_SCHEMA, build_stages, build_stages_text, completed_slices,
    sink_names, slice_metrics, tune_scan_partitions)


class Tracer:
    """In-memory span recorder. Spans of one tracer share ``run_id``."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "run_id": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(self.group(parent), "")

    def group(self, sid: int | None) -> str:
        return f"{self.run_id}/{sid}"

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f,
                      indent=1)


class RestApi:
    """Minimal client for the Spark UI's ``/api/v1`` monitoring endpoints."""

    def __init__(self, sc):
        if not sc.uiWebUrl:
            raise RuntimeError("the traced session needs spark.ui.enabled")
        self.base = (f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/"
                     f"{sc.applicationId}")

    # the UI is on this host: never route through a configured proxy
    _opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self._opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the listener bus has recorded every job as ended."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if not [j for j in self.get("/jobs")
                    if j["status"] == "RUNNING"]:
                return
            time.sleep(0.2)

    def jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.get("/jobs") if j.get("jobGroup") in groups]

    def stages(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j["stageIds"]}
        return [s for s in self.get("/stages") if s["stageId"] in ids
                and s["status"] == "COMPLETE"]

    def sql_nodes(self, jobs: list[dict]) -> list[dict]:
        ids = {j["jobId"] for j in jobs}
        out = []
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&offset=0&length=100000"):
            if ids & set(ex.get("successJobIds", []) +
                         ex.get("failedJobIds", [])):
                out.extend(ex.get("nodes", []))
        return out

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self.get(f"/stages/{stage['stageId']}/"
                         f"{stage['attemptId']}/taskList?length=100000")
        return [t["duration"] for t in tasks if "duration" in t]


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_NUM = re.compile(r"([\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def metric_value(text: str) -> float:
    """Parse a SQL UI metric string: ``1,234``, ``12.5 MiB`` or the
    ``total (min, med, max ...)\\n<total> (...)`` form."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def node_metric(nodes: list[dict], names: tuple[str, ...],
                metric: str) -> list[float]:
    return [metric_value(m["value"]) for n in nodes if n["nodeName"] in names
            for m in n.get("metrics", []) if m["name"] == metric]


PYTHON_NODES = ("MapInArrow", "ArrowEvalPython")


def scan_bytes(nodes: list[dict]) -> float:
    """Bytes the file scans read. Reads of the persisted routed frame are
    ``InMemoryTableScan`` nodes and do not count."""
    return sum(metric_value(m["value"]) for n in nodes
               if n["nodeName"].startswith("Scan ")
               for m in n.get("metrics", [])
               if m["name"] == "size of files read")


def pipeline_counts(rest: RestApi, groups: set[str], input_rows: int,
                    slices: int) -> dict[str, float]:
    """Per-layer counts of a run_pipeline call made under ``groups``."""
    jobs = rest.jobs(groups)
    stages = rest.stages(jobs)
    nodes = rest.sql_nodes(jobs)
    py_rows = sum(node_metric(nodes, PYTHON_NODES, "number of output rows"))
    sent = sum(node_metric(nodes, PYTHON_NODES,
                           "data sent to Python workers"))
    back = sum(node_metric(nodes, PYTHON_NODES,
                           "data returned from Python workers"))
    bcast = node_metric(nodes, ("BroadcastExchange",), "data size")
    return {
        "sources.bytes_read_per_row": scan_bytes(nodes) / input_rows,
        "functions.parsers.python_rows_per_input_row": py_rows / input_rows,
        "functions.parsers.python_sent_bytes_per_row": sent / input_rows,
        "functions.parsers.python_returned_bytes_per_row":
            back / input_rows,
        "operators.enrich.broadcast_bytes": max(bcast, default=0.0),
        "plans.pipeline.spark_jobs_per_slice": len(jobs) / slices,
        "engine.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000,
        "engine.spill_bytes": float(sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for s in stages)),
    }


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


PAYLOAD_DROP = ("sinks", "routes_mask", "dlq_reason", "_lineage")


def replay(spark, tracer: Tracer, spec, input_path: str, output_dir: str,
           input_format: str, n_slices: int, crash_after: int | None,
           run_id: str = "run0") -> None:
    """Replay run_pipeline's steps under spans (parquet or json_lines
    sinks, tokens or text input). ``crash_after`` reproduces a crash
    after that slice and the resume listing that follows it."""
    text = input_format == "text"
    json_lines = spec.sink_format == "json_lines"

    def list_inputs() -> list[list[str]]:
        with tracer.span("plans.pipeline.list_inputs"):
            tune_scan_partitions(spark, input_path)
            reader = (spark.read.text(input_path) if text else
                      spark.read.schema(TOKENS_SCHEMA).parquet(input_path))
            files = sorted(reader.inputFiles())
        with tracer.span("plans.pipeline.completed_slices"):
            completed_slices(spark, output_dir, run_id)
        return [s for s in (files[i::n_slices] for i in range(n_slices))
                if s]

    slices = list_inputs()
    sinks = sink_names(spec)
    for i, files in enumerate(slices):
        with tracer.span("slice", slice=i):
            lineage = F.struct(F.lit(i).alias("batch_id"),
                               F.input_file_name().alias("input_file"))
            if text:
                df = spark.read.text(files).withColumn("_lineage", lineage)
                parsed = with_parsed(df.withColumnRenamed("value",
                                                          "decoded"))
                routed = build_stages_text(spark, df, spec)
            else:
                df = (spark.read.schema(TOKENS_SCHEMA).parquet(*files)
                      .withColumn("_lineage", lineage))
                parsed = fused_detok_parse(df, spark, spec.vocab,
                                           keep_decoded=spec.keep_decoded)
                routed = build_stages(spark, df, spec)
            with tracer.span("sources.scan"):
                _force(df)
            with tracer.span("functions.parsers"):
                _force(parsed)
            with tracer.span("operators.route"):
                _force(routed)
            routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                with tracer.span("plans.pipeline.persist"):
                    routed.count()
                good = routed.filter(F.col("dlq_reason").isNull())
                payload = [c for c in good.columns if c not in PAYLOAD_DROP]
                part = spec.sink_partition_by
                if json_lines:
                    # the sink writes serialize inside their own jobs;
                    # forcing the sink rows without, then with, the
                    # serializer isolates its time
                    with tracer.span("functions.serialize.base"):
                        for s in sinks:
                            _force(good.filter(F.array_contains("sinks", s))
                                   .select(*payload))
                    with tracer.span("functions.serialize"):
                        for s in sinks:
                            _force(to_json_lines(
                                good.filter(F.array_contains("sinks", s)),
                                payload).select("value", *part))
                with tracer.span("plans.pipeline.sink_write"):
                    for s in sinks:
                        sel = good.filter(F.array_contains("sinks", s))
                        dest = f"{output_dir}/sinks/{s}/batch_id={i}"
                        if json_lines:
                            (to_json_lines(sel, payload)
                             .select("value", *part).write.mode("overwrite")
                             .partitionBy(*part).text(dest))
                        else:
                            (sel.write.mode("overwrite").partitionBy(*part)
                             .parquet(dest))
                with tracer.span("plans.pipeline.dlq_write"):
                    dlq_cols = [c for c in ("doc_id", "tokens", "n_tok",
                                            "source", "decoded", "tag",
                                            "dlq_reason", "_lineage")
                                if c in routed.columns]
                    (routed.filter(F.col("dlq_reason").isNotNull())
                     .select(*dlq_cols).write.mode("overwrite")
                     .parquet(f"{output_dir}/dlq/batch_id={i}"))
                with tracer.span("operators.aggregate"):
                    m = (slice_metrics(routed, spec.salt_buckets)
                         .withColumn("batch_id", F.lit(i)))
                    m.write.mode("overwrite").parquet(
                        f"{output_dir}/_metrics/b{i}")
                    tot = m.agg(F.sum("records").alias("r"),
                                F.sum(F.col("parse_fail")
                                      + F.col("no_route")).alias("d")
                                ).collect()[0]
                with tracer.span("plans.fsio.commit"):
                    fsio.write_json_atomic(
                        spark,
                        f"{output_dir}/_checkpoints/{run_id}/slice_{i}.json",
                        {"files": files, "rows_in": int(tot["r"] or 0),
                         "rows_dlq": int(tot["d"] or 0), "sinks": sinks,
                         "ts": time.time()})
            finally:
                routed.unpersist()
        if i == crash_after:
            list_inputs()


# Spans whose self time, summed, stands for the job's wall time. The
# serialize pair is a side measurement: the job serializes inside its
# json_lines sink writes, and parquet sinks do not serialize at all.
COVERING = ("plans.pipeline.list_inputs", "plans.pipeline.completed_slices",
            "sources.scan", "functions.parsers", "operators.route",
            "plans.pipeline.persist", "plans.pipeline.sink_write",
            "plans.pipeline.dlq_write", "operators.aggregate",
            "plans.fsio.commit")
# prefix span -> the prefix span it extends, for self = prefix - previous
PREFIX_OF = {"functions.parsers": "sources.scan",
             "operators.route": "functions.parsers",
             "plans.pipeline.persist": "operators.route",
             "functions.serialize": "functions.serialize.base"}


def self_times(tracer: Tracer) -> dict[str, float]:
    """Self time per span name, summed over slices."""
    out: dict[str, float] = {}
    by_parent: dict = {}
    for rec in tracer.spans:
        by_parent.setdefault(rec["parent"], {})[rec["name"]] = rec
    for rec in tracer.spans:
        d = Tracer.duration(rec)
        prev = PREFIX_OF.get(rec["name"])
        if prev is not None:
            d -= Tracer.duration(by_parent[rec["parent"]][prev])
        rec["self_s"] = d
        out[rec["name"]] = out.get(rec["name"], 0.0) + d
    return out


def aggregate_stage_counts(rest: RestApi, tracer: Tracer,
                           input_rows: int) -> dict[str, float]:
    """Shuffle bytes and task skew of the metrics aggregation spans."""
    groups = {tracer.group(r["id"]) for r in tracer.spans
              if r["name"] == "operators.aggregate"}
    stages = rest.stages(rest.jobs(groups))
    shuffle = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    skews = []
    for i in {r["slice"] for r in tracer.spans if r["name"] == "slice"}:
        group = {tracer.group(r["id"]) for r in tracer.spans
                 if r["name"] == "operators.aggregate"
                 and tracer.spans[r["parent"]].get("slice") == i}
        st = rest.stages(rest.jobs(group))
        if not st:
            continue
        salted = max(st, key=lambda s: s.get("shuffleWriteBytes", 0))
        durs = rest.task_durations(salted)
        if durs:
            skews.append(max(durs) / max(statistics.median(durs), 1.0))
    return {"operators.aggregate.shuffle_bytes_per_row": shuffle / input_rows,
            "operators.aggregate.task_skew":
                statistics.median(skews) if skews else 1.0}
