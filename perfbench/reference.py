"""Independent output reference for the benchmark, computed outside Spark.

Each input row is decoded and parsed one at a time with Python ``re``,
tagged, rewritten and routed by the pipeline spec the benchmark runs
(``fixtures.DEFAULT_ROUTES`` plus the ``fields.level =~ ^error$ →
err.$TAG[1]`` keep=True rule). It shares no code with the engine's
parsers or router, so agreement between the two means something.

The result holds, per sink, ``records``, ``sum_n_tok``,
``distinct_sources`` and ``distinct_pairs`` (distinct (input record,
tag) pairs: the tokens ``doc_id``, or the text file and line); the DLQ
``parse_fail`` / ``no_route`` counts; and ``emitted``, the number of
tagged records (input rows plus rewrite copies). It is cached as JSON
per input.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from inputs import decode_lines

APACHE = re.compile(
    r'^\d+\.\d+\.\d+\.\d+ - \S+ \[[^\]]+\] '
    r'"\S+ \S+ HTTP/[\d.]+" \d+ \d+\s*$')
JSON_LEVEL = re.compile(r'"level"\s*:\s*"(\w+)"')
JSON_CODE = re.compile(r'"code"\s*:\s*\d+')
LTSV_LEVEL = re.compile(r'(?:^|\t)level:([^\t]*)')
LOGFMT_LEVEL = re.compile(r'(?:^| )level=(\S+)')


def parse(line: str) -> tuple[str | None, str | None]:
    """(kind, level) of one line; kind None means the line fails to parse."""
    if line.startswith("{"):
        lv = JSON_LEVEL.search(line)
        if lv or JSON_CODE.search(line):
            return "json", lv.group(1) if lv else None
        return None, None
    if "\t" in line:
        lv = LTSV_LEVEL.search(line)
        return ("ltsv", lv.group(1)) if lv else (None, None)
    if APACHE.match(line):
        return "apache", None
    if "=" in line:
        lv = LOGFMT_LEVEL.search(line)
        if lv:
            return "logfmt", lv.group(1)
    return None, None


def _glob(pattern: str) -> re.Pattern:
    return re.compile("^" + "".join(".*" if c == "*" else re.escape(c)
                                    for c in pattern) + "$")


class Reference:
    """Accumulates the expected outputs row by row."""

    def __init__(self, routes: list[tuple[str, str, str]]):
        self.sinks: list[str] = []
        for sink, _, _ in routes:
            if sink not in self.sinks:
                self.sinks.append(sink)
        self.rules = [(sink, _glob(p)) for sink, p, mt in routes
                      if mt == "glob"]
        if len(self.rules) != len(routes):
            raise ValueError("the reference implements glob routes only")
        # records, sum_n_tok, sources, hashes of (record key, tag)
        self.agg = {s: [0, 0, set(), set()] for s in self.sinks}
        self.parse_fail = 0
        self.no_route = 0
        self.emitted = 0
        self._route_cache: dict[str, list[str]] = {}

    def _route(self, tag: str) -> list[str]:
        hit = self._route_cache.get(tag)
        if hit is None:
            hit = [s for s in self.sinks
                   if any(rs == s and rx.match(tag) for rs, rx in self.rules)]
            self._route_cache[tag] = hit
        return hit

    def add(self, line: str, source: str, n_tok: int, key) -> None:
        """One input row; ``key`` identifies the record it came from."""
        kind, level = parse(line)
        tags = [(f"app.{source}.{kind or 'raw'}", kind is not None)]
        if level == "error":
            tags.append((f"err.{source}", True))
        for tag, ok in tags:
            self.emitted += 1
            if not ok:
                self.parse_fail += 1
                continue
            sinks = self._route(tag)
            if not sinks:
                self.no_route += 1
            for s in sinks:
                a = self.agg[s]
                a[0] += 1
                a[1] += n_tok
                a[2].add(source)
                a[3].add(hash((key, tag)))

    def result(self) -> dict:
        return {
            "sinks": {s: {"records": a[0], "sum_n_tok": a[1],
                          "distinct_sources": len(a[2]),
                          "distinct_pairs": len(a[3])}
                      for s, a in self.agg.items()},
            "dlq": {"parse_fail": self.parse_fail, "no_route": self.no_route},
            "emitted": self.emitted,
        }


def from_tokens(path: str, vocab: list[str], routes) -> dict:
    """Reference for a tokens parquet directory."""
    ref = Reference(routes)
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(path, name),
                            columns=["doc_id", "tokens", "n_tok", "source"])
        lines = decode_lines(tbl.column("tokens"),
                             pa.array(vocab, type=pa.string()))
        for line, n_tok, src, doc in zip(lines.to_pylist(),
                                         tbl.column("n_tok").to_pylist(),
                                         tbl.column("source").to_pylist(),
                                         tbl.column("doc_id").to_pylist()):
            ref.add(line, src, n_tok, doc)
    return ref.result()


def from_text(path: str, routes) -> dict:
    """Reference for a tree of ``<source>.log`` files. ``n_tok`` is the
    count of fields when the line is split on single spaces."""
    ref = Reference(routes)
    for d, _, names in sorted(os.walk(path)):
        for name in sorted(names):
            if not name.endswith(".log"):
                continue
            src = name[:-len(".log")]
            file = os.path.relpath(os.path.join(d, name), path)
            with open(os.path.join(d, name), encoding="utf-8") as f:
                for raw in f:
                    line = raw.rstrip("\n")
                    ref.add(line, src, len(line.split(" ")), (file, line))
    return ref.result()


def cached(cache_dir: str, key: str, compute) -> dict:
    """``compute()`` once per key; later calls read the JSON copy."""
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, path)
    return out
