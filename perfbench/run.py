"""End-to-end benchmark of the log pipeline (``plans.pipeline.run_pipeline``).

    python3 perfbench/run.py --workload tokens_bulk --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` (``fluent_bit_spark.fixtures``), runs the pipeline job that
``jobs/run_pipeline.py`` builds by default in a closed loop with one
client (one job at a time, one driver on ``local[<cpus>]``) for
``--seconds``, checks every job's output against an independent
reference, and prints each metric by name and unit. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced replay with ``--trace 1``.

Workloads:

- ``tokens_bulk``: tokens parquet, many files, two large slices, parquet
  sinks partitioned by ``source``. A clean run: no slice may be
  skipped. Most of its time is the fused detok+parse, the route/enrich
  plan and the sink fan-out.
- ``slices_resume``: a small ``<source>.log`` tree over several
  directories, four slices, text input and json_lines sinks. The job
  crashes after half its slices (``fail_after_slice``) and is resumed;
  the resume must skip exactly the committed slices. Per-slice fixed
  cost dominates. It reads text instead of parquet, parses through the
  ``with_parsed`` pandas UDF instead of the fused ``mapInArrow`` and
  serializes its sink rows, so a detok change should leave it alone and
  a serializer change should move only it.
- ``text_tail_jsonl``: the ``tokens_bulk`` rows as a ``.log`` tree,
  text input, json_lines sinks, a clean run. BENCHMARK.json does not
  list it: with every run paying about 30 s of cold set-up, a third
  workload does not fit the benchmark's run budget. Run it by hand
  with the same command.

On a clean workload, ``resume_s`` is the time to redo its last slice
after a crash before that slice's commit; the wall time behind
``rows_per_s`` and the commits behind ``slice_commit_p50_s`` are the
clean call's alone.

Everything the benchmark writes (inputs, reference cache, job outputs,
Spark local and temp dirs, traces) stays under ``.perfbench_work/`` in
the directory it runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


@dataclass(frozen=True)
class Workload:
    input_format: str          # 'tokens' | 'text'
    sink_format: str           # 'parquet' | 'json_lines'
    rows: int
    files: int                 # tokens parquet files the input comes from
    slices: int
    crash: bool                # crash after half the slices, then resume

    @property
    def crash_after(self) -> int | None:
        """``fail_after_slice`` of the first call."""
        return self.slices // 2 - 1 if self.crash else None


# tokens_bulk: two 160k-row slices. Warm, on 4 cores, a tokens slice
# costs ~4.3 s whatever its size plus ~22 us a row, so rows are ~45% of
# a slice; by the traced self times parse, route and the sink fan-out
# take ~75% of the job, much of the fan-out being per slice (5 sinks x
# 20 source partitions). The 1M-row, 4-slice shape takes ~50 s a job
# and does not fit a run.
WORKLOADS = {
    "tokens_bulk": Workload("tokens", "parquet", rows=320_000, files=16,
                            slices=2, crash=False),
    "slices_resume": Workload("text", "json_lines", rows=8_000, files=4,
                              slices=4, crash=True),
    "text_tail_jsonl": Workload("text", "json_lines", rows=320_000,
                                files=16, slices=2, crash=False),
}
# Warm-up job input: same shape as the workload, small, one slice. Big
# enough that the timed job does not pay most of the JIT warm-up.
WARM_ROWS, WARM_FILES = 20_000, 4
# A job still running after this long is cancelled and counted failed.
JOB_TIMEOUT_S = 120.0
RUN_ID = "run0"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment() -> dict[str, str]:
    """Environment for the driver JVM and its Python workers."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) >> 20
    tmp = os.path.join(WORK, "tmp")
    heap = f"{min(4, max(1, mem_gib // 6))}g"
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session default (48g) does not fit a small host; a sixth of
        # RAM, 1-4 GiB, leaves room for the Python workers and neighbours
        "SPARK_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        # the Python workers import the engine package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # initial heap = max heap: peak memory then does not depend on
        # when G1 decides to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
    }


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python workers it forks), read from /proc every 0.5 s. Each
    process counts its proportional set size, so pages shared between
    processes (forked workers, a JVM mid-spawn) count once."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.by: dict[str, int] = {}

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        parent[int(name)] = int(
                            f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        me = os.getpid()
        tree, frontier = set(), {me}
        while frontier:
            frontier = {p for p, pp in parent.items()
                        if pp in frontier and p not in tree}
            tree |= frontier
        total, by = 0, {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    r = next(int(line.split()[1]) << 10 for line in f
                             if line.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as f:
                    c = f.read().strip()
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            total += r
            by[c] = by.get(c, 0) + r
        return total, by

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            t, by = self._tree_rss()
            if t > self.peak:
                self.peak, self.by = t, by

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def output_bytes(out_dir: str) -> int:
    n = 0
    for sub in ("sinks", "dlq"):
        for d, _, names in os.walk(os.path.join(out_dir, sub)):
            n += sum(os.path.getsize(os.path.join(d, x)) for x in names)
    return n


class Bench:
    def __init__(self, name: str, seed: int, conf: dict[str, str]):
        from fluent_bit_spark import fixtures as fx
        from fluent_bit_spark.operators.router import RewriteTagRule, Route
        from fluent_bit_spark.plans.pipeline import PipelineSpec

        import inputs
        import reference

        self.name, self.seed, self.conf = name, seed, conf
        self.w = WORKLOADS[name]
        self.runs_dir = os.path.join(WORK, "runs", str(os.getpid()))
        shutil.rmtree(self.runs_dir, ignore_errors=True)
        os.makedirs(self.runs_dir)
        data = os.path.join(WORK, "inputs")
        os.makedirs(data, exist_ok=True)
        w = self.w
        make = inputs.text_tree if w.input_format == "text" \
            else inputs.tokens_table
        self.input = make(data, seed, w.rows, w.files)
        self.warm_input = make(data, seed, WARM_ROWS, WARM_FILES)
        if w.input_format == "text":
            self.input_path = os.path.join(self.input, "*", "*.log")
            self.warm_path = os.path.join(self.warm_input, "*", "*.log")
        else:
            self.input_path, self.warm_path = self.input, self.warm_input
        refs = os.path.join(WORK, "refs")
        vocab, routes = fx.vocab(), fx.DEFAULT_ROUTES
        tok = inputs.tokens_table(data, seed, w.rows, w.files)
        self.ref = reference.cached(
            refs, os.path.basename(tok),
            lambda: reference.from_tokens(tok, vocab, routes))
        if w.input_format == "text":
            tok_ref = self.ref
            self.ref = reference.cached(
                refs, os.path.basename(self.input),
                lambda: reference.from_text(self.input, routes))
            # the same rows tail-parsed must route exactly like the tokens
            for s, v in tok_ref["sinks"].items():
                if self.ref["sinks"][s]["records"] != v["records"]:
                    raise RuntimeError(f"text reference {s} records differ "
                                       f"from the tokens reference")
            if self.ref["dlq"] != tok_ref["dlq"]:
                raise RuntimeError("text reference DLQ differs from tokens")
        self.spec = PipelineSpec(
            vocab=vocab,
            routes=[Route(*r) for r in routes],
            rewrite_rules=[RewriteTagRule(
                key="fields.level", pattern="^error$",
                new_tag="err.$TAG[1]", keep=True)],
            lookup_path=inputs.lookup_table(data),
            sink_format=w.sink_format,
        )
        self.spark = None
        self.jobs = 0

    # -- sessions ---------------------------------------------------------

    def start_session(self, extra: dict[str, str] | None = None) -> float:
        from fluent_bit_spark.session import get_spark
        t = time.perf_counter()
        self.spark = get_spark(app_name="logpipe",
                               extra_conf={**self.conf, **(extra or {})})
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for both to end."""
        from pyspark import SparkContext
        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)

    def setup(self) -> tuple[float, float]:
        """get_spark in a new JVM, then the untimed warm-up job, as
        ``jobs/run_pipeline.py`` pays them once per process. Returns the
        session start time and the whole set-up time."""
        t = time.perf_counter()
        start_s = self.start_session()
        self._pipeline(self.warm_path, self.fresh_dir("warm"), 1)
        return start_s, time.perf_counter() - t

    # -- jobs -------------------------------------------------------------

    def fresh_dir(self, tag: str) -> str:
        self.jobs += 1
        d = os.path.join(self.runs_dir, f"{tag}{self.jobs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _pipeline(self, input_path: str, out: str, n_slices: int,
                  fail_after: int | None = None) -> dict:
        from fluent_bit_spark.plans.pipeline import run_pipeline
        sc = self.spark.sparkContext
        timer = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            return run_pipeline(self.spark, self.spec, input_path, out,
                                run_id=RUN_ID, n_slices=n_slices,
                                fail_after_slice=fail_after,
                                input_format=self.w.input_format)
        finally:
            timer.cancel()

    def _run(self, out: str, skip: int) -> dict:
        """One call that must skip exactly ``skip`` committed slices."""
        stats = self._pipeline(self.input_path, out, self.w.slices)
        if stats["slices_skipped"] != skip:
            raise RuntimeError(f"the run skipped {stats['slices_skipped']} "
                               f"slices, want {skip}")
        return stats

    @staticmethod
    def _commit_gaps(out: str, start: float) -> list[float]:
        """Gaps between the commits stamped after ``start``, the first
        measured from ``start``."""
        import check
        gaps, prev = [], start
        for ts in sorted(m["ts"] for m in check.read_manifests(out, RUN_ID)
                         if m["ts"] > start):
            gaps.append(ts - prev)
            prev = ts
        return gaps

    def job(self, out: str) -> dict:
        """One timed job into the fresh directory ``out``. ``out`` is
        new, so the job starts from nothing (a reused directory would
        resume and read as a phantom speed-up).

        A crash workload crashes after half the slices and resumes; the
        wall time covers both calls. A clean workload runs every slice
        in one call; then its last manifest is deleted, as by a crash
        after the slice's writes and before its commit, and the resume
        redoes that slice. Either resume must skip exactly the slices
        still committed. Returns the wall time, the resume time and the
        slice commit gaps: of both calls of a crash workload, of the
        clean call alone on a clean workload. The redo's commit is left
        out: the first clean commit is slower by the job's start and the
        redo faster on warmer code, so with it the median would be the
        second clean slice alone, which spreads more from run to run
        than the two slices together; the redo is what ``resume_s``
        reports."""
        from fluent_bit_spark.plans import fsio
        w = self.w
        t0 = time.time()
        if w.crash:
            try:
                self._pipeline(self.input_path, out, w.slices,
                               fail_after=w.crash_after)
                raise RuntimeError("the injected crash did not happen")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        else:
            self._run(out, 0)
        t1 = time.time()
        gaps = self._commit_gaps(out, t0)
        committed = len(gaps)
        if w.crash and committed != w.crash_after + 1:
            raise RuntimeError(f"{committed} slices committed before the "
                               f"crash, want {w.crash_after + 1}")
        if not w.crash:
            committed -= 1
            fsio.delete(self.spark, os.path.join(
                out, "_checkpoints", RUN_ID, f"slice_{committed}.json"))
        t2 = time.time()
        self._run(out, committed)
        t3 = time.time()
        if w.crash:
            gaps += self._commit_gaps(out, t2)
        return {"wall": (t3 if w.crash else t1) - t0, "resume": t3 - t2,
                "gaps": gaps}

    def verify(self, out: str) -> list[str]:
        import check
        return check.check_output(out, self.ref, self.w.sink_format,
                                  self.w.slices, RUN_ID)

    @staticmethod
    def _room_for_another(res: dict, window_end: float,
                          deadline: float) -> bool:
        """Start a job only if one more, as long as the median so far
        (with its resume and check), still ends inside the window (and
        before ``deadline``)."""
        if not res["walls"]:
            return False
        ends = time.time() + statistics.median(res["lengths"])
        return ends <= window_end and ends <= deadline

    def timed(self, seconds: float, deadline: float) -> dict:
        """Closed loop: jobs back to back, at least one, as many as fit
        in ``seconds``."""
        import check
        res = {"walls": [], "resumes": [], "gaps": [], "bytes": [],
               "lengths": [], "errors": [], "attempted": 0, "failed": 0,
               "selftest": None}
        kept = None
        with RssSampler() as rss:
            t_start = time.time()
            while not res["attempted"] or self._room_for_another(
                    res, t_start + seconds, deadline):
                out = self.fresh_dir("job")
                res["attempted"] += 1
                t_job = time.time()
                try:
                    r = self.job(out)
                except Exception as e:  # a failed job is counted, not fatal
                    res["failed"] += 1
                    res["errors"].append(f"job failed: {e!r}"[:500])
                    log(f"job failed: {e!r}")
                    continue
                res["walls"].append(r["wall"])
                res["resumes"].append(r["resume"])
                res["gaps"].extend(r["gaps"])
                res["bytes"].append(output_bytes(out))
                res["errors"].extend(self.verify(out))
                res["lengths"].append(time.time() - t_job)
                if kept is None:
                    kept = out
                else:
                    shutil.rmtree(out, ignore_errors=True)
        res["peak_rss"] = rss.peak
        log("peak memory by process (MiB): "
            + ", ".join(f"{k} {v >> 20}" for k, v in sorted(rss.by.items())))
        if kept is not None and os.path.isdir(kept):
            found = check.self_test(kept, self.runs_dir, self.ref,
                                    self.w.sink_format, self.w.slices)
            res["selftest"] = found
            shutil.rmtree(kept, ignore_errors=True)
        log(f"timed loop and self-test: {time.time() - t_start:.1f}s")
        return res


def end_to_end(b: Bench, setup_s: float, res: dict) -> dict:
    rows = b.w.rows
    return {
        "rows_per_s": (statistics.median(rows / t for t in res["walls"]),
                       "1/s"),
        "slice_commit_p50_s": (statistics.median(res["gaps"]), "s"),
        "resume_s": (statistics.median(res["resumes"]), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (res["peak_rss"] / (1 << 20), "MB"),
        "sink_bytes_per_row": (statistics.median(res["bytes"]) / rows,
                               "B/row"),
    }


def traced(b: Bench, start_s: float, untraced_wall: float) -> dict:
    """Per-layer metrics from one traced job and one replay.
    ``start_s`` is the cold session start of the set-up."""
    import check
    import tracing

    b.start_session({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    sc = b.spark.sparkContext
    rest = tracing.RestApi(sc)
    tracer = tracing.Tracer(sc, f"{b.name}-s{b.seed}-p{os.getpid()}")
    w = b.w
    out = b.fresh_dir("traced")
    with tracer.span("plans.pipeline.run_pipeline") as root:
        # one pass over every slice, so that the REST counts are per
        # input row: a clean workload's redo is left out
        if w.crash:
            b.job(out)
        else:
            b._run(out, 0)
    groups = {tracer.group(root["id"])}
    errors = b.verify(out)
    manifests = check.read_manifests(out, RUN_ID)
    parse_fail = check.dlq_reasons(out)["parse_fail"]
    shutil.rmtree(out, ignore_errors=True)
    replay_out = b.fresh_dir("replay")
    with tracer.span("replay") as replay_span:
        tracing.replay(b.spark, tracer, b.spec, b.input_path, replay_out,
                     w.input_format, w.slices, crash_after=w.crash_after,
                     run_id=RUN_ID)
    errors += [f"replay: {e}" for e in b.verify(replay_out)]
    shutil.rmtree(replay_out, ignore_errors=True)
    rest.settle()
    selfs = tracing.self_times(tracer)
    covered = sum(selfs.get(n, 0.0) for n in tracing.COVERING)
    log("share of the spans' self time: " + ", ".join(
        f"{n} {selfs.get(n, 0.0) / covered:.0%}" for n in tracing.COVERING))
    m = {
        "sources.scan_s": selfs["sources.scan"],
        "functions.parsers.self_s": selfs["functions.parsers"],
        "functions.parsers.parse_fail_ratio":
            parse_fail / w.rows,
        "operators.route.self_s": selfs["operators.route"],
        "operators.router.rows_out_per_input_row":
            sum(x["rows_in"] for x in manifests) / w.rows,
        "plans.pipeline.persist_s": selfs["plans.pipeline.persist"],
        "plans.pipeline.sink_write_s": selfs["plans.pipeline.sink_write"],
        "plans.pipeline.dlq_write_s": selfs["plans.pipeline.dlq_write"],
        "operators.aggregate.self_s": selfs["operators.aggregate"],
        # 0 for parquet sinks: the job does not serialize
        "functions.serialize.self_s": selfs.get("functions.serialize", 0.0),
        "plans.fsio.commit_s": selfs["plans.fsio.commit"],
        "plans.pipeline.completed_slices_s":
            selfs["plans.pipeline.completed_slices"],
        "session.start_s": start_s,
        "trace.span_coverage": covered / untraced_wall,
        # forced prefixes and UI on, against the untraced job
        "trace.overhead_s": tracing.Tracer.duration(replay_span)
                            - untraced_wall,
    }
    m.update(tracing.pipeline_counts(rest, groups, w.rows, w.slices))
    m.update(tracing.aggregate_stage_counts(rest, tracer, w.rows))
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{tracer.run_id}.json")
    tracer.dump(path)
    log(f"spans: {len(tracer.spans)} written to {path}")
    return {"metrics": m, "errors": errors}


UNITS = {
    "sources.scan_s": "s", "sources.bytes_read_per_row": "B/row",
    "functions.parsers.self_s": "s",
    "functions.parsers.python_rows_per_input_row": "count",
    "functions.parsers.python_sent_bytes_per_row": "B/row",
    "functions.parsers.python_returned_bytes_per_row": "B/row",
    "functions.parsers.parse_fail_ratio": "ratio",
    "operators.route.self_s": "s",
    "operators.router.rows_out_per_input_row": "count",
    "operators.enrich.broadcast_bytes": "B",
    "plans.pipeline.persist_s": "s", "plans.pipeline.sink_write_s": "s",
    "plans.pipeline.dlq_write_s": "s",
    "plans.pipeline.spark_jobs_per_slice": "count",
    "operators.aggregate.self_s": "s",
    "operators.aggregate.shuffle_bytes_per_row": "B/row",
    "operators.aggregate.task_skew": "ratio",
    "functions.serialize.self_s": "s", "plans.fsio.commit_s": "s",
    "plans.pipeline.completed_slices_s": "s", "session.start_s": "s",
    "engine.gc_s": "s", "engine.spill_bytes": "B",
    "trace.span_coverage": "ratio", "trace.overhead_s": "s",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "fluent_bit_spark")):
        log(f"no fluent_bit_spark package under {ROOT}; run the benchmark "
            f"from a checkout of the repository")
        return 2
    t_proc = time.time()
    sys.path.insert(0, ROOT)
    conf = pin_environment()
    os.chdir(WORK)       # spark-warehouse/ and stray files land here

    b = Bench(args.workload, args.seed, conf)
    log(f"inputs ready in {time.time() - t_proc:.1f}s")
    try:
        start_s, setup_s = b.setup()
        log(f"set-up: {setup_s:.2f}s (session start {start_s:.2f}s)")
        # leave room for the traced replay and shutdown within 180 s
        deadline = t_proc + (60 if args.trace else 120)
        res = b.timed(args.seconds, deadline)
        log(f"timed jobs: {', '.join(f'{t:.2f}s' for t in res['walls'])}; "
            f"slice commit gaps: {', '.join(f'{g:.2f}s' for g in res['gaps'])}")
        if not res["walls"]:
            log("every timed job failed")
            return 1
        e2e = end_to_end(b, setup_s, res)
        tr = None
        if args.trace:
            b.stop_session()
            tr = traced(b, start_s, statistics.median(res["walls"]))
    finally:
        b.shutdown()
        shutil.rmtree(b.runs_dir, ignore_errors=True)
    selftest_ok = (res["selftest"] is not None
                   and all(res["selftest"].values()))
    errors = res["errors"] + (tr["errors"] if tr else [])
    correct = not errors and selftest_ok
    for e in errors:
        log(f"output mismatch: {e}")

    n_gaps = len(res["gaps"])
    print(f"workload {b.name} seed {b.seed}: {b.w.rows} rows, "
          f"{b.w.slices} slices, {res['attempted']} jobs in the timed loop")
    for k, (v, unit) in e2e.items():
        print(f"  {k:<34} {v:14.4f} {unit}")
    p90 = (f"{statistics.quantiles(res['gaps'], n=10)[-1]:14.4f} s"
           if n_gaps >= 100 else
           f"{'n/a':>14} (needs 100 commits, have {n_gaps})")
    print(f"  {'slice_commit_p90_s':<34} {p90}")
    print(f"  {'outputs_correct':<34} {int(correct):14d}")
    print(f"  {'failed_run_ratio':<34} "
          f"{res['failed'] / res['attempted']:14.4f}")
    for name, found in (res["selftest"] or {}).items():
        print(f"  self-test {name}: outputs_correct="
              f"{0 if found else 1} ({len(found)} mismatches)")
    if tr:
        for k, v in tr["metrics"].items():
            print(f"  {k:<45} {v:14.4f} {UNITS[k]}")
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in tr["metrics"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
