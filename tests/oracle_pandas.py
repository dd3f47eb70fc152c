"""Independent pure-pandas re-implementation of the pipeline spec.

This is the stand-in for the unavailable C reference (SURVEY.md §5.2):
golden per-sink aggregates and routed row sets are computed here with
plain Python re / fnmatch — deliberately row-at-a-time and separate from
the Spark code paths, so agreement is meaningful.
"""

from __future__ import annotations

import fnmatch
import os
import re

import pandas as pd
import pyarrow.parquet as pq

APACHE = re.compile(
    r'^(\d+\.\d+\.\d+\.\d+) - (\S+) \[([^\]]+)\] '
    r'"(\S+) (\S+) HTTP/[\d.]+" (\d+) (\d+)\s*$')
JSON_LEVEL = re.compile(r'"level"\s*:\s*"(\w+)"')
JSON_CODE = re.compile(r'"code"\s*:\s*(\d+)')
LTSV_LEVEL = re.compile(r'(?:^|\t)level:([^\t]*)')
LTSV_CODE = re.compile(r'(?:^|\t)code:([^\t]*)')
LOGFMT_LEVEL = re.compile(r'(?:^| )level=(\S+)')
LOGFMT_CODE = re.compile(r'(?:^| )code=(\d+)')


def decode_row(tokens, vocab: list[str]) -> str:
    return "".join(vocab[t] for t in tokens)


def parse_row(line: str) -> dict:
    out = {"kind": None, "level": None, "code": None}
    if line.startswith("{"):
        lv, cd = JSON_LEVEL.search(line), JSON_CODE.search(line)
        if lv or cd:
            out["kind"] = "json"
            out["level"] = lv.group(1) if lv else None
            out["code"] = int(cd.group(1)) if cd else None
        return out
    if "\t" in line:
        lv = LTSV_LEVEL.search(line)
        if lv:
            out["kind"] = "ltsv"
            out["level"] = lv.group(1)
            cd = LTSV_CODE.search(line)
            out["code"] = int(cd.group(1)) if cd else None
        return out
    m = APACHE.match(line)
    if m:
        out["kind"] = "apache"
        out["code"] = int(m.group(6))
        return out
    if "=" in line:
        lv = LOGFMT_LEVEL.search(line)
        if lv:
            out["kind"] = "logfmt"
            out["level"] = lv.group(1)
            cd = LOGFMT_CODE.search(line)
            out["code"] = int(cd.group(1)) if cd else None
    return out


def default_tag(source: str, kind: str | None) -> str:
    """app.<source>.<kind>, the pipeline's default tag."""
    return f"app.{source}.{kind or 'raw'}"


def token_records(tokens_path: str, vocab: list[str]) -> list[tuple]:
    """(doc_id, source, n_tok, line) per row of a tokens parquet."""
    tbl = pq.read_table(tokens_path).to_pandas()
    return [(r.doc_id, r.source, int(r.n_tok), decode_row(r.tokens, vocab))
            for r in tbl.itertuples(index=False)]


def text_records(log_dir: str) -> list[tuple]:
    """(doc_id, source, n_tok, line) per line of the ``.log`` files in
    ``log_dir``, as the text input derives them: source is the file
    name without ``.log``, n_tok the number of space-separated pieces.
    The doc_id here is file:line, not the engine's content hash."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        if not name.endswith(".log"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8",
                  newline="") as fh:
            text = fh.read()
        lines = re.split(r"\r\n|\r|\n", text)
        if lines and lines[-1] == "":
            lines.pop()
        out += [(f"{name}:{k}", name[:-4], len(line.split(" ")), line)
                for k, line in enumerate(lines)]
    return out


def run_oracle(tokens_path: str, vocab: list[str],
               routes: list[tuple[str, str, str]],
               rewrite_errors_keep: bool = True) -> dict:
    """Run the reference pipeline row-at-a-time over a tokens parquet;
    see :func:`route_records`."""
    return route_records(token_records(tokens_path, vocab), routes,
                         rewrite_errors_keep)


def route_records(records: list[tuple], routes: list[tuple[str, str, str]],
                  rewrite_errors_keep: bool = True,
                  tag_fn=default_tag) -> dict:
    """Parse, tag (``tag_fn(source, kind)``), rewrite and route
    ``(doc_id, source, n_tok, line)`` records; return per-sink golden
    aggregates and routed doc_id sets, DLQ counts by reason and per-tag
    metrics over every emitted row."""
    rows = []
    for doc_id, source, n_tok, line in records:
        p = parse_row(line)
        tag = tag_fn(source, p["kind"])
        emitted = [(tag, p["kind"] is not None)]
        if p["level"] == "error":
            # rewrite_tag rule: level=error → err.$TAG[1], keep=True
            err_tag = f"err.{tag.split('.')[1]}"
            if rewrite_errors_keep:
                emitted.append((err_tag, True))
            else:
                emitted = [(err_tag, True)]
        for t, ok in emitted:
            rows.append((doc_id, source, n_tok, t, ok))
    df = pd.DataFrame(rows,
                      columns=["doc_id", "source", "n_tok", "tag", "ok"])

    def match(tag: str, pattern: str, mt: str) -> bool:
        if mt == "regex":
            return re.search(pattern, tag) is not None
        # fluent-bit glob: '*' matches any run incl '.'; fnmatch's '*'
        # does too, but fnmatch also honours ? and [] — our patterns
        # use only '*', so translate by escaping everything else
        rx = "^" + "".join(".*" if c == "*" else re.escape(c)
                           for c in pattern) + "$"
        return re.match(rx, tag) is not None

    sinks: dict[str, pd.DataFrame] = {}
    sink_order: list[str] = []
    for s, _, _ in routes:
        if s not in sink_order:
            sink_order.append(s)
    df["sinks"] = df["tag"].map(
        lambda t: tuple(s for s in sink_order
                        if any(match(t, p, mt) for ss, p, mt in routes
                               if ss == s)))
    good = df[df["ok"] & (df["sinks"].map(len) > 0)]
    out = {"sinks": {}, "dlq": {}, "emitted": int(len(df))}
    for s in sink_order:
        sub = good[good["sinks"].map(lambda x: s in x)]
        out["sinks"][s] = {
            "records": int(len(sub)),
            "sum_n_tok": int(sub["n_tok"].sum()),
            "distinct_sources": int(sub["source"].nunique()),
            "doc_ids": sorted(sub["doc_id"].tolist()),
            "pairs": sorted(zip(sub["doc_id"], sub["tag"])),
        }
    no_sink = df["ok"] & (df["sinks"].map(len) == 0)
    out["dlq"] = {"parse_fail": int((~df["ok"]).sum()),
                  "no_route": int(no_sink.sum())}
    out["tags"] = {
        tag: {"records": int(len(g)),
              "sum_n_tok": int(g["n_tok"].sum()),
              "distinct_sources": int(g["source"].nunique()),
              "parse_fail": int((~g["ok"]).sum()),
              "no_route": int(no_sink[g.index].sum())}
        for tag, g in df.groupby("tag")}
    return out
