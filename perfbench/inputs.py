"""Seeded input generation for the benchmark workloads, cached on disk.

Inputs depend only on (seed, rows, files). A cached input is reused only
when its row count (parquet footers) or line count (.log tree) matches
what was asked for; anything else is regenerated. Every directory is
built under a temporary name and renamed into place, so an interrupted
run never leaves a half-written input that a later run would trust.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from fluent_bit_spark import fixtures as fx

# The .log tree spreads each source's lines over this many directories,
# so the text scan sees same-named files in different places.
TEXT_DIRS = 4


def _parquet_rows(path: str) -> int:
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in files)


def _text_lines(path: str) -> int:
    n = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(".log"):
                with open(os.path.join(d, name), "rb") as f:
                    n += sum(1 for _ in f)
    return n


def _build(path: str, count, want: int, make) -> str:
    """Return ``path`` holding ``want`` rows, (re)built with ``make``."""
    if os.path.isdir(path):
        try:
            if count(path) == want:
                return path
        except (OSError, pa.ArrowInvalid):
            pass
        shutil.rmtree(path)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    got = count(tmp)
    if got != want:
        raise RuntimeError(f"generated {got} rows at {tmp}, wanted {want}")
    os.rename(tmp, path)
    return path


def tokens_table(root: str, seed: int, rows: int, files: int) -> str:
    """The ``input_hint`` tokens table: ``files`` parquet part files."""
    path = os.path.join(root, f"tokens-s{seed}-r{rows}-f{files}")
    return _build(path, _parquet_rows, rows,
                  lambda p: fx.generate_tokens_table(p, rows, seed=seed,
                                                     n_files=files))


def decode_lines(tokens: pa.ChunkedArray, vocab: pa.Array) -> pa.Array:
    """Each row's token ids mapped through ``vocab`` and concatenated."""
    arr = tokens.combine_chunks()
    pieces = vocab.take(arr.flatten())
    return pc.binary_join(pa.ListArray.from_arrays(arr.offsets, pieces), "")


def text_tree(root: str, seed: int, rows: int, files: int) -> str:
    """The in_tail posture of the same rows: row ``j`` of the tokens table
    becomes one line of ``d<j % TEXT_DIRS>/<source>.log``, in row order."""
    tokens = tokens_table(root, seed, rows, files)
    path = os.path.join(root, f"text-s{seed}-r{rows}-f{files}")

    def make(p: str) -> None:
        vocab = pa.array(fx.vocab(), type=pa.string())
        tbl = pq.read_table(tokens, columns=["tokens", "source"])
        lines = decode_lines(tbl.column("tokens"), vocab).to_pylist()
        sources = tbl.column("source").to_pylist()
        buckets: dict[tuple[int, str], list[str]] = {}
        for j, (line, src) in enumerate(zip(lines, sources)):
            buckets.setdefault((j % TEXT_DIRS, src), []).append(line)
        for (d, src), group in sorted(buckets.items()):
            os.makedirs(os.path.join(p, f"d{d}"), exist_ok=True)
            with open(os.path.join(p, f"d{d}", f"{src}.log"), "w",
                      encoding="utf-8") as f:
                f.write("\n".join(group) + "\n")

    return _build(path, _text_lines, rows, make)


def lookup_table(root: str) -> str:
    """The generated enrichment dimension (source → team/env/region)."""
    path = os.path.join(root, "lookup_sources.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        fx.generate_lookup_table(tmp)
        os.rename(tmp, path)
    return path
