"""Output checker: compares one job's output directory with the reference.

Reads the sinks, the DLQ and the slice manifests straight from disk with
pyarrow / json (no Spark), and returns a list of mismatches; an empty
list means the output is correct. ``self_test`` proves the checker can
fail: it corrupts copies of a good output and expects mismatches.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _data_files(root: str):
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for name in sorted(names):
            if not name.startswith((".", "_")):
                yield os.path.join(d, name)


def _partition_value(path: str, key: str) -> str | None:
    for part in path.split(os.sep):
        if part.startswith(f"{key}="):
            return part[len(key) + 1:]
    return None


def _read_sink(path: str, sink_format: str, cols: list[str]) -> pa.Table:
    """Sink rows as a table of ``cols`` (``source`` from the partition)."""
    if sink_format == "parquet":
        return ds.dataset(path, format="parquet",
                          partitioning="hive").to_table(columns=cols)
    rows: dict[str, list] = {c: [] for c in cols}
    for f in _data_files(path):
        src = _partition_value(f, "source")
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                for c in cols:
                    rows[c].append(src if c == "source" else rec.get(c))
    return pa.table(rows)


def read_manifests(out_dir: str, run_id: str = "run0") -> list[dict]:
    """The committed slice manifests of one output, by file name."""
    man_dir = os.path.join(out_dir, "_checkpoints", run_id)
    out = []
    if os.path.isdir(man_dir):
        for n in sorted(os.listdir(man_dir)):
            if n.startswith("slice_") and n.endswith(".json"):
                with open(os.path.join(man_dir, n)) as f:
                    out.append(json.load(f))
    return out


def dlq_reasons(out_dir: str) -> Counter:
    """DLQ row count per ``dlq_reason``."""
    dlq_dir = os.path.join(out_dir, "dlq")
    if not os.path.isdir(dlq_dir):
        return Counter()
    return Counter(ds.dataset(dlq_dir, format="parquet", partitioning="hive")
                   .to_table(columns=["dlq_reason"])
                   .column("dlq_reason").to_pylist())


def check_output(out_dir: str, ref: dict, sink_format: str,
                 n_slices: int, run_id: str = "run0") -> list[str]:
    """Mismatches between one output and the reference. Rows written
    twice (a committed slice redone on resume) add records to a sink
    but no distinct (doc_id, tag) pairs, so both counts are checked."""
    errors: list[str] = []
    cols = ["n_tok", "source", "doc_id", "tag"]
    for sink, want in ref["sinks"].items():
        path = os.path.join(out_dir, "sinks", sink)
        if not os.path.isdir(path):
            if want["records"]:
                errors.append(f"{sink}: missing")
            continue
        t = _read_sink(path, sink_format, cols)
        got = {"records": t.num_rows,
               "sum_n_tok": pc.sum(t.column("n_tok")).as_py() or 0,
               "distinct_sources": pc.count_distinct(
                   t.column("source"), mode="all").as_py(),
               "distinct_pairs": t.group_by(["doc_id", "tag"])
                                  .aggregate([]).num_rows}
        for k, v in want.items():
            if got[k] != v:
                errors.append(f"{sink}.{k}: got {got[k]}, want {v}")
    reasons = dlq_reasons(out_dir)
    for k, v in ref["dlq"].items():
        if reasons.get(k, 0) != v:
            errors.append(f"dlq.{k}: got {reasons.get(k, 0)}, want {v}")
    manifests = read_manifests(out_dir, run_id)
    if len(manifests) != n_slices:
        errors.append(f"manifests: got {len(manifests)}, want {n_slices}")
    rows_in = sum(m["rows_in"] for m in manifests)
    rows_dlq = sum(m["rows_dlq"] for m in manifests)
    if rows_in != ref["emitted"]:
        errors.append(f"manifest rows_in: got {rows_in}, "
                      f"want {ref['emitted']}")
    if rows_dlq != sum(ref["dlq"].values()):
        errors.append(f"manifest rows_dlq: got {rows_dlq}, "
                      f"want {sum(ref['dlq'].values())}")
    return errors


def _corrupt_one_sink_row(out_dir: str, sink_format: str) -> None:
    for f in _data_files(os.path.join(out_dir, "sinks")):
        if sink_format == "parquet":
            t = pq.read_table(f)
            if not t.num_rows:
                continue
            n_tok = t.column("n_tok").to_pylist()
            n_tok[0] += 1
            i = t.schema.get_field_index("n_tok")
            pq.write_table(t.set_column(i, t.schema.field(i),
                                        pa.array(n_tok, pa.int32())), f)
            return
        with open(f, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        if not lines:
            continue
        rec = json.loads(lines[0])
        rec["n_tok"] += 1
        lines[0] = json.dumps(rec)
        with open(f, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        return
    raise RuntimeError(f"no sink rows to corrupt under {out_dir}")


def _drop_one_dlq_file(out_dir: str) -> None:
    for f in _data_files(os.path.join(out_dir, "dlq")):
        if f.endswith(".parquet") and pq.ParquetFile(f).metadata.num_rows:
            os.remove(f)
            return
    raise RuntimeError(f"no DLQ rows to drop under {out_dir}")


def self_test(good_dir: str, work_dir: str, ref: dict, sink_format: str,
              n_slices: int) -> dict[str, list[str]]:
    """Check two corrupted copies of a correct output; each must fail.
    Returns the mismatches found per corruption."""
    found = {}
    for name, corrupt in (
            ("corrupt_sink_row",
             lambda d: _corrupt_one_sink_row(d, sink_format)),
            ("drop_dlq_file", _drop_one_dlq_file)):
        copy = os.path.join(work_dir, name)
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(good_dir, copy)
        corrupt(copy)
        found[name] = check_output(copy, ref, sink_format, n_slices)
        shutil.rmtree(copy, ignore_errors=True)
    return found
