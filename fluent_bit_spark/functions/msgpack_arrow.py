"""Vectorized Arrow/numpy twin of the Catalyst msgpack entry encoder
(functions/msgpack.py) — the throughput path for the forward sink.

The pure Catalyst form is the oracle-able reference; this kernel produces
BIT-IDENTICAL bytes (equivalence-gated in tests/test_forward.py) by
vectorizing every variable-width decision:

* per-value canonical int widths via ``np.select`` + one scatter per
  width class (header byte + big-endian payload bytes, two's
  complement through a uint64 view);
* string/array headers the same way;
* all variable-length payload copies via the ragged-gather idiom
  (``np.repeat`` of starts + grouped ``arange``) — no Python loop
  touches a row.

Scope: the token-pipeline field kinds (string, int scalar, int array)
with the constant EventTime(0, 0) stamp — the shapes the msgpack sink
emits. Anything else (doubles, real timestamps, nested structs) stays
on the Catalyst path, which handles every type.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# ragged gather
# ---------------------------------------------------------------------------


def _ragged_copy(out: np.ndarray, dst_starts: np.ndarray,
                 src: np.ndarray, src_starts: np.ndarray,
                 lens: np.ndarray) -> None:
    """out[dst_starts[i] + j] = src[src_starts[i] + j] for j < lens[i],
    fully vectorized."""
    total = int(lens.sum())
    if total == 0:
        return
    ends = np.cumsum(lens)
    within = np.arange(total, dtype=np.int64) \
        - np.repeat(ends - lens, lens)
    out[np.repeat(dst_starts, lens) + within] = \
        src[np.repeat(src_starts, lens) + within]


# ---------------------------------------------------------------------------
# width + scatter encoders (canonical msgpack, matching py_encode)
# ---------------------------------------------------------------------------

_INT_CLASSES = (
    # (predicate_lo, predicate_hi, width, header or None=fixint, nbytes)
    ("pfix", 1, None, 0),     # 0 <= v < 128
    ("nfix", 1, None, 0),     # -32 <= v < 0
    ("u8", 2, 0xCC, 1),
    ("u16", 3, 0xCD, 2),
    ("u32", 5, 0xCE, 4),
    ("u64", 9, 0xCF, 8),
    ("i8", 2, 0xD0, 1),
    ("i16", 3, 0xD1, 2),
    ("i32", 5, 0xD2, 4),
    ("i64", 9, 0xD3, 8),
)


def _int_class(v: np.ndarray) -> np.ndarray:
    """Class index into _INT_CLASSES per value (int64 input)."""
    conds = [
        (v >= 0) & (v < 0x80),
        (v >= -0x20) & (v < 0),
        (v >= 0x80) & (v <= 0xFF),
        (v > 0xFF) & (v <= 0xFFFF),
        (v > 0xFFFF) & (v <= 0xFFFFFFFF),
        v > 0xFFFFFFFF,
        (v >= -0x80) & (v < -0x20),
        (v >= -0x8000) & (v < -0x80),
        (v >= -0x80000000) & (v < -0x8000),
        v < -0x80000000,
    ]
    return np.select(conds, np.arange(10, dtype=np.int8), default=0)


_INT_WIDTHS = np.array([c[1] for c in _INT_CLASSES], dtype=np.int64)


def _scatter_ints(out: np.ndarray, dst: np.ndarray, v: np.ndarray,
                  cls: np.ndarray) -> None:
    """Write canonical int encodings of v at out[dst...]."""
    u = v.astype(np.int64).view(np.uint64)
    for ci, (_, width, header, nbytes) in enumerate(_INT_CLASSES):
        m = cls == ci
        if not m.any():
            continue
        d = dst[m]
        if header is None:  # fixint: the low byte IS the encoding
            out[d] = (u[m] & np.uint64(0xFF)).astype(np.uint8)
            continue
        out[d] = header
        um = u[m]
        for j in range(nbytes):
            shift = np.uint64(8 * (nbytes - 1 - j))
            out[d + 1 + j] = ((um >> shift)
                              & np.uint64(0xFF)).astype(np.uint8)


def _str_header_len(n: np.ndarray) -> np.ndarray:
    return np.select([n < 32, n <= 0xFF, n <= 0xFFFF],
                     [1, 2, 3], default=5).astype(np.int64)


def _scatter_str_headers(out: np.ndarray, dst: np.ndarray,
                         n: np.ndarray) -> None:
    m = n < 32
    out[dst[m]] = (0xA0 | n[m]).astype(np.uint8)
    m = (n >= 32) & (n <= 0xFF)
    d = dst[m]
    out[d] = 0xD9
    out[d + 1] = n[m].astype(np.uint8)
    m = (n > 0xFF) & (n <= 0xFFFF)
    d = dst[m]
    out[d] = 0xDA
    out[d + 1] = (n[m] >> 8).astype(np.uint8)
    out[d + 2] = (n[m] & 0xFF).astype(np.uint8)
    m = n > 0xFFFF
    d = dst[m]
    out[d] = 0xDB
    for j in range(4):
        out[d + 1 + j] = ((n[m] >> (8 * (3 - j))) & 0xFF).astype(np.uint8)


def _arr_header_len(n: np.ndarray) -> np.ndarray:
    return np.select([n < 16, n <= 0xFFFF], [1, 3], default=5) \
        .astype(np.int64)


def _scatter_arr_headers(out: np.ndarray, dst: np.ndarray,
                         n: np.ndarray) -> None:
    m = n < 16
    out[dst[m]] = (0x90 | n[m]).astype(np.uint8)
    m = (n >= 16) & (n <= 0xFFFF)
    d = dst[m]
    out[d] = 0xDC
    out[d + 1] = (n[m] >> 8).astype(np.uint8)
    out[d + 2] = (n[m] & 0xFF).astype(np.uint8)
    m = n > 0xFFFF
    d = dst[m]
    out[d] = 0xDD
    for j in range(4):
        out[d + 1 + j] = ((n[m] >> (8 * (3 - j))) & 0xFF).astype(np.uint8)


# ---------------------------------------------------------------------------
# column plans: each yields (value_lens, scatter(out, starts)) pairs
# ---------------------------------------------------------------------------


def _str_plan(arr) -> tuple[np.ndarray, object]:
    """arr: pa.StringArray (possibly with nulls)."""
    import pyarrow as pa

    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                         count=len(arr) + 1 + arr.offset)[arr.offset:]
    data_buf = arr.buffers()[2]
    data = (np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None else np.empty(0, np.uint8))
    src_starts = offs[:-1].astype(np.int64)
    n = (offs[1:] - offs[:-1]).astype(np.int64)
    valid = ~np.asarray(arr.is_null())
    hlen = np.where(valid, _str_header_len(n), 1)
    vlens = np.where(valid, hlen + n, 1)

    def scatter(out: np.ndarray, starts: np.ndarray) -> None:
        out[starts[~valid]] = 0xC0
        sv = starts[valid]
        _scatter_str_headers(out, sv, n[valid])
        _ragged_copy(out, sv + hlen[valid], data,
                     src_starts[valid], n[valid])

    return vlens, scatter


def _int_plan(arr) -> tuple[np.ndarray, object]:
    """arr: any pa integer array."""
    import pyarrow as pa

    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    valid = ~np.asarray(arr.is_null())
    v = np.asarray(arr.cast(pa.int64()).fill_null(0))
    cls = _int_class(v)
    vlens = np.where(valid, _INT_WIDTHS[cls], 1)

    def scatter(out: np.ndarray, starts: np.ndarray) -> None:
        out[starts[~valid]] = 0xC0
        _scatter_ints(out, starts[valid], v[valid], cls[valid])

    return vlens, scatter


def _intarray_plan(arr) -> tuple[np.ndarray, object]:
    """arr: pa.ListArray of ints."""
    import pyarrow as pa

    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                         count=len(arr) + 1 + arr.offset)[arr.offset:]
    counts = (offs[1:] - offs[:-1]).astype(np.int64)
    flat = arr.flatten()  # honors list offsets
    v = np.asarray(flat.cast(pa.int64()))
    cls = _int_class(v)
    w = _INT_WIDTHS[cls]
    # per-row body length: grouped sum of element widths
    wc = np.concatenate([[0], np.cumsum(w)])
    body = wc[offs[1:] - offs[0]] - wc[offs[:-1] - offs[0]]
    valid = ~np.asarray(arr.is_null())
    hlen = np.where(valid, _arr_header_len(counts), 1)
    vlens = np.where(valid, hlen + body, 1)

    def scatter(out: np.ndarray, starts: np.ndarray) -> None:
        out[starts[~valid]] = 0xC0
        sv = starts[valid]
        _scatter_arr_headers(out, sv, counts[valid])
        # element dst = its row's body start + grouped cumsum of
        # element widths (global cumsum minus each row's base)
        base = offs[:-1] - offs[0]
        row_w0 = wc[base]                      # cum width before row
        starts_full = np.zeros(len(arr), dtype=np.int64)
        starts_full[valid] = sv + hlen[valid]
        el_rows = np.repeat(np.arange(len(arr)), counts)
        el_dst = starts_full[el_rows] + (wc[:-1] - row_w0[el_rows])
        keep = np.repeat(valid, counts)
        _scatter_ints(out, el_dst[keep], v[keep], cls[keep])

    return vlens, scatter


_PLANS = {"string": _str_plan, "int": _int_plan, "intarray": _intarray_plan}


def plan_kind(dtype_str: str) -> str:
    """Spark simple-type string → plan kind (raise if unsupported —
    the caller falls back to the Catalyst encoder)."""
    if dtype_str in ("string",):
        return "string"
    if dtype_str in ("int", "bigint", "long", "smallint", "tinyint"):
        return "int"
    if dtype_str in ("array<int>", "array<bigint>", "array<smallint>",
                     "array<tinyint>"):
        return "intarray"
    raise ValueError(f"arrow msgpack encoder: unsupported type "
                     f"{dtype_str} (use the Catalyst path)")


# entry prefix for ts=None: [2-array, EventTime(0,0), fixmap(n)]
def _const_prefix(keys: list[str]) -> bytes:
    from .msgpack import py_encode
    if len(keys) >= 16:
        raise ValueError("fixmap keys only (n < 16)")
    head = b"\x92" + b"\xd7\x00" + b"\x00" * 8 \
        + bytes([0x80 | len(keys)])
    return head + py_encode(keys[0])


def encode_entries(batch, fields: list[tuple[str, str]]
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Encode every row of a pa.RecordBatch (columns matching
    ``fields`` by name) into one contiguous uint8 buffer of
    ``[EventTime(0,0), {k: v}]`` entries. Returns ``(buffer,
    row_end_offsets)`` so callers can slice per-row/per-group spans.

    Byte-identical to ``msgpack.encode_forward_entry`` with a NULL
    timestamp (equivalence-gated in tests)."""
    from .msgpack import py_encode

    keys = [k for k, _ in fields]
    n_rows = batch.num_rows
    plans = [_PLANS[kind](batch.column(k)) for k, kind in fields]

    # constants between values: prefix+key1, key2, ..., keyN
    consts = [np.frombuffer(_const_prefix(keys), dtype=np.uint8)]
    for k in keys[1:]:
        consts.append(np.frombuffer(py_encode(k), dtype=np.uint8))

    row_len = np.full(n_rows, sum(len(c) for c in consts),
                      dtype=np.int64)
    for vlens, _ in plans:
        row_len += vlens
    ends = np.cumsum(row_len)
    out = np.empty(int(ends[-1]) if n_rows else 0, dtype=np.uint8)

    cursor = ends - row_len  # row starts
    for i, (vlens, scatter) in enumerate(plans):
        c = consts[i]
        # write the constant run before this value
        idx = cursor[:, None] + np.arange(len(c))
        out[idx.reshape(-1)] = np.tile(c, n_rows)
        cursor = cursor + len(c)
        scatter(out, cursor)
        cursor = cursor + vlens
    return out, ends
