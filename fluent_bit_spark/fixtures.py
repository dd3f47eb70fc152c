"""Deterministic synthetic fixtures (FIXTURES.md F1–F4).

Reference analogue: fluent-bit's synthetic inputs ``in_dummy``/``in_random``
(upstream:plugins/in_dummy/in_dummy.c) and the runtime-test JSON payloads
(upstream:tests/runtime/). Pure numpy/pyarrow, seed-fixed — no Spark needed
to generate, no randomness at test time, no external data.

The tokens table is the engine's authoritative input shape
(BASELINE.json input_hint):

    doc_id : string
    tokens : array<int32>
    n_tok  : int32
    source : string

Each row's token sequence deterministically detokenizes (via the F2 vocab)
to a synthetic log line in one of five shapes: apache access-log, JSON body,
LTSV, logfmt, or unparseable garbage (dead-letter path).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEED = 42
VOCAB_SIZE = 32768
N_SOURCES = 20

# Shape mix: apache-heavy like real access logs; ~8% garbage → DLQ path.
SHAPES = ["apache", "json", "ltsv", "logfmt", "garbage"]
SHAPE_WEIGHTS = [0.40, 0.22, 0.15, 0.15, 0.08]

LEVELS = ["info", "warn", "error", "debug"]
CODES = [200, 200, 200, 301, 404, 500, 503]
METHODS = ["GET", "GET", "GET", "POST", "PUT", "DELETE"]

_WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "sigma", "omega", "query", "request",
    "response", "timeout", "retry", "connect", "disconnect", "session",
    "user", "cache", "miss", "hit", "flush", "buffer", "chunk", "stream",
    "engine", "worker", "upstream", "latency", "slow", "fast", "spike",
    "normal", "degraded", "healthy", "probe", "metric", "trace", "span",
    "shard", "replica", "leader", "follower", "commit", "rollback", "lock",
]
_PATH_PARTS = ["api", "v1", "v2", "users", "orders", "items", "search",
               "health", "admin", "static", "img", "js", "css", "login"]
_USERS = ["frank", "alice", "bob", "carol", "dave", "-"]
_HOSTS = [f"h{i}" for i in range(12)]


def build_vocab() -> list[str]:
    """id → piece. ids 0..255 are raw single chars; the rest are words.

    Detokenization is exact string concatenation of pieces, so every
    fixture line round-trips byte-identically (token-equality invariant,
    BASELINE.json input_hint).
    """
    pieces = [chr(i) for i in range(256)]
    pieces += _WORDS + _PATH_PARTS + _USERS + _HOSTS
    pieces += [str(c) for c in sorted(set(CODES))]
    pieces += LEVELS + METHODS
    pieces += ["HTTP/1.0", "HTTP/1.1", '", "', '": "', '": ', '{"', '"}',
               '="', '" ', "level", "msg", "code", "host", "ts", "size"]
    # pad out with deterministic filler words to a fixed vocab size
    i = 0
    while len(pieces) < VOCAB_SIZE:
        pieces.append(f"w{i}")
        i += 1
    return pieces[:VOCAB_SIZE]


_VOCAB: list[str] | None = None
_PIECE_ID: dict[str, int] | None = None


def vocab() -> list[str]:
    global _VOCAB, _PIECE_ID
    if _VOCAB is None:
        _VOCAB = build_vocab()
        _PIECE_ID = {p: i for i, p in enumerate(_VOCAB)}
    return _VOCAB


def _ids(text_pieces: list[str]) -> list[int]:
    """Encode a list of pieces to token ids; unknown pieces fall back to
    per-character byte ids (always representable)."""
    vocab()
    out: list[int] = []
    for p in text_pieces:
        i = _PIECE_ID.get(p)
        if i is not None:
            out.append(i)
        else:
            out.extend(ord(c) for c in p)
    return out


def _words(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    n = int(rng.integers(lo, hi + 1))
    picks = rng.integers(0, len(_WORDS), n)
    sp: list[str] = []
    for j, w in enumerate(picks):
        if j:
            sp.append(" ")
        sp.append(_WORDS[int(w)])
    return sp


def _make_line(rng: np.random.Generator, shape: str) -> list[str]:
    """One synthetic log line as a piece list for the given shape."""
    level = LEVELS[int(rng.integers(0, len(LEVELS)))]
    code = str(CODES[int(rng.integers(0, len(CODES)))])
    if shape == "apache":
        ip = f"10.{rng.integers(0, 16)}.{rng.integers(0, 256)}.{rng.integers(1, 255)}"
        user = _USERS[int(rng.integers(0, len(_USERS)))]
        day = int(rng.integers(1, 29))
        hh, mm, ss = (int(rng.integers(0, 24)), int(rng.integers(0, 60)),
                      int(rng.integers(0, 60)))
        method = METHODS[int(rng.integers(0, len(METHODS)))]
        depth = int(rng.integers(1, 4))
        path = "/" + "/".join(
            _PATH_PARTS[int(rng.integers(0, len(_PATH_PARTS)))]
            for _ in range(depth))
        size = str(int(rng.integers(64, 65536)))
        return [ip, " ", "-", " ", user, " ",
                f"[{day:02d}/Jan/2024:{hh:02d}:{mm:02d}:{ss:02d} +0000]",
                " ", '"', method, " ", path, " ", "HTTP/1.0", '"', " ",
                code, " ", size]
    if shape == "json":
        msg = _words(rng, 2, 8)
        k = str(int(rng.integers(0, 100)))
        return (['{"', "level", '": "', level, '", "', "msg", '": "']
                + msg + ['", "', "code", '": ', code, ",", " ", '"', "k",
                         '": ', k, "}"])
    if shape == "ltsv":
        host = _HOSTS[int(rng.integers(0, len(_HOSTS)))]
        msg = _words(rng, 1, 5)
        return (["host", ":", host, "\t", "level", ":", level, "\t",
                 "code", ":", code, "\t", "msg", ":"] + msg)
    if shape == "logfmt":
        msg = _words(rng, 1, 6)
        dur = str(int(rng.integers(1, 5000)))
        return (["level", "=", level, " ", "msg", '="'] + msg
                + ['" ', "code", "=", code, " ", "dur_ms", "=", dur])
    # garbage: words only — fails every parser (no '=', '{', ':', or IP)
    return _words(rng, 4, 24)


class LinePool:
    """A deterministic pool of distinct pre-tokenized lines.

    Rows of the big table are drawn from the pool by index, which makes
    10M+-row generation pure vectorized indexing instead of per-row work.
    """

    def __init__(self, size: int = 5000, seed: int = SEED):
        rng = np.random.default_rng(seed)
        shapes = rng.choice(len(SHAPES), size=size, p=SHAPE_WEIGHTS)
        seqs: list[list[int]] = []
        self.shape_of: list[str] = []
        for s in shapes:
            shape = SHAPES[int(s)]
            seqs.append(_ids(_make_line(rng, shape)))
            self.shape_of.append(shape)
        self.lens = np.array([len(s) for s in seqs], dtype=np.int64)
        self.offsets = np.zeros(len(seqs) + 1, dtype=np.int64)
        np.cumsum(self.lens, out=self.offsets[1:])
        self.values = np.concatenate(
            [np.asarray(s, dtype=np.int32) for s in seqs])

    def decode(self, i: int) -> str:
        v = vocab()
        s, e = self.offsets[i], self.offsets[i + 1]
        return "".join(v[t] for t in self.values[s:e])


def _source_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Skewed source assignment: src0 ≈ 40% of rows (FIXTURES.md F1) so the
    salted-aggregation path is genuinely exercised."""
    u = rng.random(n)
    # src0: 40%; src1..19 share the rest with geometric-ish decay
    rest = 0.60 / 19.0
    bounds = np.cumsum([0.40] + [rest] * 19)
    return np.searchsorted(bounds, u).astype(np.int32).clip(0, N_SOURCES - 1)


def generate_tokens_table(
    path: str,
    n_rows: int,
    seed: int = SEED,
    pool_size: int = 5000,
    rows_per_chunk: int = 2_000_000,
    n_files: int = 1,
) -> None:
    """Write the F1 tokens table to parquet, deterministically.

    ``n_files > 1`` writes a directory of part files (the realistic
    table shape — a 100 TB Iceberg table is many files, and Spark's
    scan parallelism + the pipeline's per-file slice checkpointing both
    key off file boundaries); its chunks go round-robin into the files.
    Content depends on (n_rows, seed, pool_size) and on the chunk size,
    which ``n_files > 1`` caps at ``ceil(n_rows / n_files)``: the random
    draws are made per chunk, so the same rows split over more files
    are other rows, not the one-file table's rows chunked differently.
    """
    pool = LinePool(pool_size, seed)
    rng = np.random.default_rng(seed + 1)
    schema = pa.schema([
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ])
    if n_files > 1:
        os.makedirs(path, exist_ok=True)
        rows_per_chunk = min(rows_per_chunk,
                             -(-n_rows // n_files))  # ceil div
        writers = [pq.ParquetWriter(
            os.path.join(path, f"part-{i:05d}.parquet"), schema)
            for i in range(n_files)]
    else:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        writers = [pq.ParquetWriter(path, schema)]
    try:
        for chunk_i, start in enumerate(range(0, n_rows, rows_per_chunk)):
            writer = writers[chunk_i % len(writers)]
            n = min(rows_per_chunk, n_rows - start)
            idx = rng.integers(0, pool_size, n)
            src = _source_ids(rng, n)
            lens = pool.lens[idx]
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            total = int(offsets[-1])
            # grouped-arange gather: flat[j] walks each row's pool slice
            row_of = np.repeat(np.arange(n), lens)
            flat = (np.arange(total) - np.repeat(offsets[:-1], lens)
                    + pool.offsets[idx][row_of])
            values = pool.values[flat]
            tokens = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()
                         if total < 2**31 else pa.int64()).cast(pa.int32()),
                pa.array(values, type=pa.int32()))
            nums = pa.array(np.arange(start, start + n)).cast(pa.string())
            doc_id = pc.binary_join_element_wise(
                pa.array(["doc"] * n), nums, "")
            source = pc.binary_join_element_wise(
                pa.array(["src"] * n), pa.array(src).cast(pa.string()), "")
            batch = pa.record_batch(
                [doc_id, tokens,
                 pa.array(lens.astype(np.int32)), source], schema=schema)
            writer.write_batch(batch)
    finally:
        for w in writers:
            w.close()


def generate_vocab_table(path: str) -> None:
    """F2 vocab table (token_id:int32, piece:string)."""
    v = vocab()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        pa.table({
            "token_id": pa.array(np.arange(len(v), dtype=np.int32)),
            "piece": pa.array(v),
        }), path)


def generate_lookup_table(path: str) -> None:
    """F3 enrichment dim: source → team/env/region.

    src18/src19 are intentionally absent → left-join miss → null
    (filter_lookup miss semantics, upstream:plugins/filter_lookup/lookup.c).
    """
    teams = ["core", "infra", "web", "data", "ml"]
    envs = ["prod", "staging", "dev"]
    regions = ["us-east", "us-west", "eu", "ap"]
    n = N_SOURCES - 2
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        pa.table({
            "source": [f"src{i}" for i in range(n)],
            "team": [teams[i % len(teams)] for i in range(n)],
            "env": [envs[i % len(envs)] for i in range(n)],
            "region": [regions[i % len(regions)] for i in range(n)],
        }), path)


# F4 routing rules (flb_router_match semantics re-expressed; see
# operators/router.py for the glob compiler).
DEFAULT_ROUTES: list[tuple[str, str, str]] = [
    # (sink, match pattern, match_type)
    ("sink_web", "app.*.apache", "glob"),
    ("sink_json", "app.*.json", "glob"),
    ("sink_kv", "app.*.ltsv", "glob"),
    ("sink_kv", "app.*.logfmt", "glob"),
    ("sink_src1", "app.src1.*", "glob"),
    ("sink_errors", "err.*", "glob"),
]


def ensure_fixture_dir(base: str, n_rows: int = 50_000,
                       seed: int = SEED) -> dict[str, str]:
    """Materialize tokens/vocab/lookup under ``base`` if absent; return paths."""
    paths = {
        "tokens": os.path.join(base, f"tokens_{n_rows}.parquet"),
        "vocab": os.path.join(base, "vocab.parquet"),
        "lookup": os.path.join(base, "lookup_sources.parquet"),
    }
    if not os.path.exists(paths["tokens"]):
        generate_tokens_table(paths["tokens"], n_rows, seed)
    if not os.path.exists(paths["vocab"]):
        generate_vocab_table(paths["vocab"])
    if not os.path.exists(paths["lookup"]):
        generate_lookup_table(paths["lookup"])
    return paths
