"""msgpack codec for the forward protocol (SURVEY.md §2.1).

fluent-bit's native wire/buffer format is msgpack: the forward
protocol ships events as ``[tag, [[time, record], ...]]`` (Forward
mode) or ``[tag, <bin of concatenated [time, record] entries>]``
(PackedForward, optionally gzip-compressed), and the on-disk buffer
chunks hold exactly the same entry stream
(upstream:src/flb_input_chunk.c, upstream:plugins/out_forward/forward.c,
forward-protocol spec github.com/fluent/fluentd/wiki/Forward-Protocol
— public knowledge; the reference mount is empty, SURVEY §0). Time is
the EventTime ext type (fixext8, type 0: uint32 seconds ‖ uint32
nanoseconds) or a plain integer.

Two independent implementations live here, so each can oracle the
other:

* ``encode_*`` **Column builders** — the msgpack ENCODER as pure
  Catalyst expressions (``format_string`` → ``unhex`` → ``concat`` on
  BINARY), JVM-side and codegen-friendly: canonical smallest-width
  ints, IEEE-754 float64 bit extraction by exact power-of-two
  arithmetic (every step is a binade-preserving operation, so the
  mantissa falls out bit-exactly — see ``encode_float64``), UTF-8
  str headers from ``octet_length``, EventTime fixext8. No Python
  runs per row; ``df.explain`` shows no Python boundary.
* ``py_encode`` / ``decode_stream`` — a tiny pure-Python reference
  codec (stdlib only). The encoder exists to byte-oracle the Catalyst
  encoder in tests; the decoder is the executor-side kernel for
  reading chunk files (Arrow-batched per FILE in sources/forward.py —
  binary cursor parsing has no vectorized form).
"""

from __future__ import annotations

import gzip
import struct
from typing import Any, Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# pure-Python reference codec (test oracle + file-decode kernel)
# ---------------------------------------------------------------------------


def py_encode(obj: Any) -> bytes:
    """Canonical (smallest-width) msgpack encoding of the forward
    subset: None, bool, int, float, str, bytes, list, dict, and
    ``("__event_time__", sec, nsec)`` tuples → fixext8 type 0."""
    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, tuple) and len(obj) == 3 and obj[0] == "__event_time__":
        return b"\xd7\x00" + struct.pack(">II", obj[1], obj[2])
    if isinstance(obj, int):
        if 0 <= obj < 0x80:
            return struct.pack("B", obj)
        if -0x20 <= obj < 0:
            return struct.pack("b", obj)
        if 0 <= obj <= 0xFF:
            return b"\xcc" + struct.pack(">B", obj)
        if 0 <= obj <= 0xFFFF:
            return b"\xcd" + struct.pack(">H", obj)
        if 0 <= obj <= 0xFFFFFFFF:
            return b"\xce" + struct.pack(">I", obj)
        if obj >= 0:
            return b"\xcf" + struct.pack(">Q", obj)
        if obj >= -0x80:
            return b"\xd0" + struct.pack(">b", obj)
        if obj >= -0x8000:
            return b"\xd1" + struct.pack(">h", obj)
        if obj >= -0x80000000:
            return b"\xd2" + struct.pack(">i", obj)
        return b"\xd3" + struct.pack(">q", obj)
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, str):
        b = obj.encode("utf-8")
        n = len(b)
        if n < 32:
            return struct.pack("B", 0xA0 | n) + b
        if n <= 0xFF:
            return b"\xd9" + struct.pack(">B", n) + b
        if n <= 0xFFFF:
            return b"\xda" + struct.pack(">H", n) + b
        return b"\xdb" + struct.pack(">I", n) + b
    if isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            return b"\xc4" + struct.pack(">B", n) + bytes(obj)
        if n <= 0xFFFF:
            return b"\xc5" + struct.pack(">H", n) + bytes(obj)
        return b"\xc6" + struct.pack(">I", n) + bytes(obj)
    if isinstance(obj, list):
        n = len(obj)
        if n < 16:
            head = struct.pack("B", 0x90 | n)
        elif n <= 0xFFFF:
            head = b"\xdc" + struct.pack(">H", n)
        else:
            head = b"\xdd" + struct.pack(">I", n)
        return head + b"".join(py_encode(x) for x in obj)
    if isinstance(obj, dict):
        n = len(obj)
        if n < 16:
            head = struct.pack("B", 0x80 | n)
        elif n <= 0xFFFF:
            head = b"\xde" + struct.pack(">H", n)
        else:
            head = b"\xdf" + struct.pack(">I", n)
        return head + b"".join(py_encode(k) + py_encode(v)
                               for k, v in obj.items())
    raise TypeError(f"msgpack: unsupported type {type(obj)!r}")


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError("msgpack: truncated stream")
        self.pos += n
        return b


def _decode_one(c: _Cursor) -> Any:
    t = c.take(1)[0]
    if t < 0x80:
        return t
    if t >= 0xE0:
        return t - 0x100
    if 0x80 <= t <= 0x8F:
        return {_decode_one(c): _decode_one(c) for _ in range(t & 0x0F)}
    if 0x90 <= t <= 0x9F:
        return [_decode_one(c) for _ in range(t & 0x0F)]
    if 0xA0 <= t <= 0xBF:
        return c.take(t & 0x1F).decode("utf-8")
    if t == 0xC0:
        return None
    if t == 0xC2:
        return False
    if t == 0xC3:
        return True
    if t == 0xC4:
        return c.take(c.take(1)[0])
    if t == 0xC5:
        return c.take(struct.unpack(">H", c.take(2))[0])
    if t == 0xC6:
        return c.take(struct.unpack(">I", c.take(4))[0])
    if t == 0xCA:
        return struct.unpack(">f", c.take(4))[0]
    if t == 0xCB:
        return struct.unpack(">d", c.take(8))[0]
    if t == 0xCC:
        return c.take(1)[0]
    if t == 0xCD:
        return struct.unpack(">H", c.take(2))[0]
    if t == 0xCE:
        return struct.unpack(">I", c.take(4))[0]
    if t == 0xCF:
        return struct.unpack(">Q", c.take(8))[0]
    if t == 0xD0:
        return struct.unpack(">b", c.take(1))[0]
    if t == 0xD1:
        return struct.unpack(">h", c.take(2))[0]
    if t == 0xD2:
        return struct.unpack(">i", c.take(4))[0]
    if t == 0xD3:
        return struct.unpack(">q", c.take(8))[0]
    if t == 0xD4:  # fixext1
        return ("__ext__", struct.unpack(">b", c.take(1))[0], c.take(1))
    if t == 0xD6:  # fixext4: fluentd integer EventTime variant
        typ = struct.unpack(">b", c.take(1))[0]
        data = c.take(4)
        if typ == 0:
            return ("__event_time__", struct.unpack(">I", data)[0], 0)
        return ("__ext__", typ, data)
    if t == 0xD7:  # fixext8: EventTime
        typ = struct.unpack(">b", c.take(1))[0]
        data = c.take(8)
        if typ == 0:
            sec, nsec = struct.unpack(">II", data)
            return ("__event_time__", sec, nsec)
        return ("__ext__", typ, data)
    if t == 0xC7:  # ext8
        n = c.take(1)[0]
        typ = struct.unpack(">b", c.take(1))[0]
        data = c.take(n)
        if typ == 0 and n == 8:
            sec, nsec = struct.unpack(">II", data)
            return ("__event_time__", sec, nsec)
        return ("__ext__", typ, data)
    if t == 0xD9:
        return c.take(c.take(1)[0]).decode("utf-8")
    if t == 0xDA:
        return c.take(struct.unpack(">H", c.take(2))[0]).decode("utf-8")
    if t == 0xDB:
        return c.take(struct.unpack(">I", c.take(4))[0]).decode("utf-8")
    if t == 0xDC:
        return [_decode_one(c)
                for _ in range(struct.unpack(">H", c.take(2))[0])]
    if t == 0xDD:
        return [_decode_one(c)
                for _ in range(struct.unpack(">I", c.take(4))[0])]
    if t == 0xDE:
        return {_decode_one(c): _decode_one(c)
                for _ in range(struct.unpack(">H", c.take(2))[0])}
    if t == 0xDF:
        return {_decode_one(c): _decode_one(c)
                for _ in range(struct.unpack(">I", c.take(4))[0])}
    raise ValueError(f"msgpack: unsupported type byte 0x{t:02x}")


def decode_stream(buf: bytes) -> Iterator[Any]:
    """Decode a concatenated stream of msgpack objects (a chunk's
    entry stream, or a file of Forward/PackedForward messages)."""
    c = _Cursor(buf)
    while c.pos < len(buf):
        yield _decode_one(c)


def decode_forward_events(buf: bytes) -> Iterator[tuple[str, int, int, dict]]:
    """Yield ``(tag, sec, nsec, record)`` from a buffer holding any mix
    of forward-protocol message forms: Message mode
    ``[tag, time, record]``, Forward mode ``[tag, [[time, record]...]]``,
    PackedForward ``[tag, bin]`` (gzip-compressed bin accepted:
    CompressedPackedForward), each optionally with a trailing option
    map. A bare entry stream ``[time, record]...`` (an on-disk buffer
    chunk payload) is accepted too."""
    if buf[:2] == b"\x1f\x8b":
        buf = gzip.decompress(buf)
    for msg in decode_stream(buf):
        if not isinstance(msg, list) or not msg:
            raise ValueError("forward: not an array message")
        if isinstance(msg[0], str) and len(msg) >= 2:
            tag = msg[0]
            body = msg[1]
            if isinstance(body, (bytes, bytearray)):  # PackedForward
                raw = bytes(body)
                if raw[:2] == b"\x1f\x8b":
                    raw = gzip.decompress(raw)
                for sec, nsec, rec in _iter_entries(decode_stream(raw)):
                    yield tag, sec, nsec, rec
            elif isinstance(body, list) and (
                    not body or isinstance(body[0], list)):  # Forward
                for sec, nsec, rec in _iter_entries(iter(body)):
                    yield tag, sec, nsec, rec
            else:  # Message mode: [tag, time, record]
                sec, nsec = _time_parts(msg[1])
                yield tag, sec, nsec, msg[2]
        else:  # bare entry stream
            sec, nsec = _time_parts(msg[0])
            yield "", sec, nsec, msg[1]


def _iter_entries(entries) -> Iterator[tuple[int, int, dict]]:
    for e in entries:
        sec, nsec = _time_parts(e[0])
        yield sec, nsec, e[1]


def _time_parts(t: Any) -> tuple[int, int]:
    if isinstance(t, tuple) and t and t[0] == "__event_time__":
        return int(t[1]), int(t[2])
    if isinstance(t, (int, float)):
        sec = int(t)
        return sec, int(round((float(t) - sec) * 1e9))
    raise ValueError(f"forward: bad time value {t!r}")


# ---------------------------------------------------------------------------
# Catalyst encoder: msgpack as pure column expressions
# ---------------------------------------------------------------------------

_B = "binary"


def _hx(col: Column) -> Column:
    """unhex() of a built hex string → BINARY."""
    return F.unhex(col)


def _lit_bytes(*vals: int) -> Column:
    """A constant byte sequence as a BINARY literal column."""
    return F.unhex(F.lit("".join(f"{v:02x}" for v in vals)))


def _int_hex(col: Column) -> Column:
    """Canonical smallest-width msgpack int of a BIGINT column, as a
    HEX STRING (so array encoders can join per-element hex and unhex
    once). Negative widths take the low hex digits of ``%016x``
    (Java's ``%x`` on a long prints two's complement — exactly the
    bytes msgpack wants), so no overflow-prone arithmetic is involved
    (ANSI mode safe)."""
    neg16 = F.format_string("%016x", col)
    return F.when(col.isNull(), F.lit("c0")).otherwise(F.when(
        (col >= 0) & (col < 0x80), F.format_string("%02x", col)
    ).when(
        (col >= -0x20) & (col < 0), F.substring(neg16, 15, 2)
    ).when(
        (col >= 0) & (col <= 0xFF), F.format_string("cc%02x", col)
    ).when(
        (col >= 0) & (col <= 0xFFFF), F.format_string("cd%04x", col)
    ).when(
        (col >= 0) & (col <= 0xFFFFFFFF), F.format_string("ce%08x", col)
    ).when(
        col > 0, F.format_string("cf%016x", col)
    ).when(
        col >= -0x80, F.concat(F.lit("d0"), F.substring(neg16, 15, 2))
    ).when(
        col >= -0x8000, F.concat(F.lit("d1"), F.substring(neg16, 13, 4))
    ).when(
        col >= -0x80000000, F.concat(F.lit("d2"), F.substring(neg16, 9, 8))
    ).otherwise(F.concat(F.lit("d3"), neg16)))


def encode_int(col: Column) -> Column:
    """Canonical smallest-width msgpack int of a BIGINT column."""
    return _hx(_int_hex(col))


def encode_int_array(col: Column) -> Column:
    """msgpack array of ints from an ARRAY<INT|BIGINT> column (the
    ``tokens`` payload): per-element canonical hex via ``transform``
    (single-arg lambda — HOF arity pitfall, NOTES r1 #1), one
    ``array_join`` + one ``unhex``. Still no Python boundary; the HOF
    evaluates interpreted (NOTES r1 #2), which is fine here — the
    encode is IO-bound sink work, not an aggregation hot path."""
    n = F.size(col)
    head = (F.when(n < 16, F.format_string("%02x", n + 0x90))
             .when(n <= 0xFFFF, F.format_string("dc%04x", n))
             .otherwise(F.format_string("dd%08x", n)))
    body = F.array_join(
        F.transform(col, lambda e: _int_hex(e.cast("long"))), "")
    return F.when(col.isNull(), _lit_bytes(0xC0)).otherwise(
        _hx(F.concat(head, body)))


def encode_str(col: Column) -> Column:
    """msgpack str of a STRING column: header width from the UTF-8
    octet length, payload via cast to BINARY (Spark's string→binary
    cast is the UTF-8 bytes)."""
    n = F.octet_length(col)
    head = (F.when(n < 32, F.format_string("%02x", n + 0xA0))
             .when(n <= 0xFF, F.format_string("d9%02x", n))
             .when(n <= 0xFFFF, F.format_string("da%04x", n))
             .otherwise(F.format_string("db%08x", n)))
    return F.when(col.isNull(), _lit_bytes(0xC0)).otherwise(
        F.concat(_hx(head), col.cast(_B)))


def encode_bin(col: Column) -> Column:
    """msgpack bin of a BINARY column."""
    n = F.octet_length(col)
    head = (F.when(n <= 0xFF, F.format_string("c4%02x", n))
             .when(n <= 0xFFFF, F.format_string("c5%04x", n))
             .otherwise(F.format_string("c6%08x", n)))
    return F.when(col.isNull(), _lit_bytes(0xC0)).otherwise(
        F.concat(_hx(head), col))


def encode_bool(col: Column) -> Column:
    return (F.when(col.isNull(), _lit_bytes(0xC0))
             .when(col, _lit_bytes(0xC3)).otherwise(_lit_bytes(0xC2)))


def _f64_bits_hex(col: Column) -> Column:
    """``%016x`` of the IEEE-754 bit pattern of a DOUBLE column, by
    exact arithmetic (no Python, no bit-cast builtin in Spark SQL):

    * exponent: ``floor(log2(|v|))`` then a compare-correct step —
      log2 is inexact only by ±1 at binade edges, and comparing
      against the exact ``pow(2, e)`` (powers of two are exactly
      representable) pins it;
    * mantissa: ``|v| * 2^-e ∈ [1, 2)`` is a division by a power of
      two (exact), the ``-1`` is exact by Sterbenz's lemma, and the
      ``* 2^52`` yields an integer < 2^52 (exactly representable) —
      so every step is bit-exact;
    * subnormals (|v| < 2^-1022): scale by 2^537 twice (exact; no
      overflow/underflow on the way) to recover the 52-bit fraction
      with biased exponent 0.

    The two 32-bit halves are formatted separately so no signed-long
    overflow can occur under ANSI mode."""
    a = F.abs(col)
    # -0.0 == 0.0 numerically; its sign survives the string cast
    # ("-0.0"), which avoids the 1/x probe ANSI mode rejects.
    sign = F.when(
        (col < 0) | (col.cast("string") == "-0.0"), F.lit(1)
    ).otherwise(F.lit(0)).cast("long")

    e0 = F.floor(F.log2(a)).cast("long")
    p0 = F.pow(F.lit(2.0), e0.cast("double"))
    e = (F.when(a < p0, e0 - 1)
          .when(a >= p0 * 2, e0 + 1).otherwise(e0))
    p = F.pow(F.lit(2.0), e.cast("double"))
    frac = a / p                                   # [1, 2), exact
    mant = ((frac - F.lit(1.0)) * F.lit(4503599627370496.0)).cast("long")
    biased = e + 1023

    sub_mant = ((a * F.pow(F.lit(2.0), F.lit(537.0)))
                * F.pow(F.lit(2.0), F.lit(537.0))).cast("long")

    def _halves(b: Column, m: Column) -> Column:
        hi = sign * F.lit(0x80000000) + b * F.lit(0x100000) \
            + F.shiftrightunsigned(m, 32)
        lo = m.bitwiseAND(F.lit(0xFFFFFFFF))
        return F.format_string("%08x%08x", hi, lo)

    zero = F.format_string("%08x%08x", sign * F.lit(0x80000000), F.lit(0))
    return (F.when(F.isnan(col), F.lit("7ff8000000000000"))
             .when(col == float("inf"), F.lit("7ff0000000000000"))
             .when(col == float("-inf"), F.lit("fff0000000000000"))
             .when(a == 0.0, zero)
             .when(a < F.lit(2.2250738585072014e-308),
                   _halves(F.lit(0), sub_mant))
             .otherwise(_halves(biased, mant)))


def encode_float64(col: Column) -> Column:
    """msgpack float64 (0xcb + 8 IEEE bytes) of a DOUBLE column."""
    return F.when(col.isNull(), _lit_bytes(0xC0)).otherwise(
        F.concat(_lit_bytes(0xCB), _hx(_f64_bits_hex(col))))


def encode_event_time(ts_col: Column) -> Column:
    """EventTime ext (fixext8 type 0) of a TIMESTAMP column:
    ``d7 00`` + uint32 seconds + uint32 nanoseconds."""
    us = F.unix_micros(ts_col)
    sec = F.floor(us / F.lit(1000000)).cast("long")
    nsec = (us - sec * 1000000) * 1000
    return F.concat(_lit_bytes(0xD7, 0x00),
                    _hx(F.format_string("%08x%08x", sec, nsec)))


def encode_array(items: list[Column]) -> Column:
    """msgpack array of already-encoded element columns (n < 16)."""
    if len(items) >= 16:
        raise ValueError("fixarray only (n < 16)")
    return F.concat(_lit_bytes(0x90 | len(items)), *items)


def encode_map(pairs: list[tuple[str, Column]]) -> Column:
    """msgpack map with literal string keys and already-encoded value
    columns (n < 16 — fluent-bit records are small flat maps; nesting
    composes through the value columns)."""
    if len(pairs) >= 16:
        raise ValueError("fixmap only (n < 16)")
    parts: list[Column] = []
    for k, v in pairs:
        kb = k.encode("utf-8")
        if len(kb) >= 32:
            raise ValueError("fixstr keys only (< 32 bytes)")
        parts.append(F.concat(
            F.unhex(F.lit(f"{0xA0 | len(kb):02x}" + kb.hex())), v))
    return F.concat(_lit_bytes(0x80 | len(pairs)), *parts)


_ENCODERS = {
    "long": encode_int, "int": encode_int, "bigint": encode_int,
    "string": encode_str, "double": encode_float64,
    "boolean": encode_bool, "binary": encode_bin,
    "array<int>": encode_int_array, "array<bigint>": encode_int_array,
}


def encode_value(col: Column, spark_type: str) -> Column:
    """Dispatch on a Spark simple-type name."""
    try:
        return _ENCODERS[spark_type](col)
    except KeyError:
        raise ValueError(f"forward: unsupported type {spark_type}") from None


def encode_forward_entry(ts_col: Column,
                         fields: list[tuple[str, Column, str]]) -> Column:
    """One forward-protocol entry ``[EventTime, {k: v, ...}]`` as a
    BINARY column — the unit both Forward and PackedForward modes (and
    fluent-bit's buffer chunks) concatenate.

    ``fields`` is ``[(key, value_column, spark_type_name), ...]``."""
    rec = encode_map([(k, encode_value(c, t)) for k, c, t in fields])
    return encode_array([encode_event_time(ts_col), rec])
