"""Kafka RecordBatch v2 byte codec — the segment-payload subset of
upstream:plugins/in_kafka / out_kafka (SURVEY.md §2.1).

The Kafka plugins proper are broker connectors (librdkafka transports
— scoped out with the other network connectors), but the PAYLOAD that
rides them is a public, stable on-disk/wire format: the RecordBatch
v2 layout (magic=2) defined by the Apache Kafka protocol guide
(kafka.apache.org/documentation/#recordbatch) and KIP-98. A broker
log segment, a `kafka-dump-log` capture, or a MirrorMaker spool file
is a concatenation of these batches, so the batch subset here is a
real file format — the same posture as the forward/OTLP/http/syslog
payload codecs (sources/forward.py header documents the pattern).

This module is the pure-Python reference codec: one encoder and one
decoder written independently against the spec, cross-checked by
round-trip tests plus known-answer vectors (tests/test_kafka_codec.py)
— the msgpack posture (functions/msgpack.py) of two implementations
oracling each other, applied where only one implementation is needed
because the consumer is always a per-FILE Arrow kernel
(sources/kafka_batches.py), never a per-row UDF.

Layout implemented (all integers big-endian; varints are ZigZag
protobuf-style as the spec requires):

    baseOffset int64 | batchLength int32 | partitionLeaderEpoch int32
    magic int8 (=2) | crc uint32 (CRC32C, attributes..end)
    attributes int16 (bits 0-2 compression: 0 none, 1 gzip)
    lastOffsetDelta int32 | baseTimestamp int64 | maxTimestamp int64
    producerId int64 | producerEpoch int16 | baseSequence int32
    recordCount int32 | records…

    record: length varint | attributes int8 | timestampDelta varlong
            | offsetDelta varint | keyLen varint | key
            | valueLen varint | value | headerCount varint
            | (headerKeyLen varint | headerKey | headerValLen varint
               | headerVal)*

CRC is CRC32C (Castagnoli, reflected poly 0x82F63B78) over everything
AFTER the crc field — NOT zlib's CRC32; using the wrong polynomial is
the classic interop bug and the known-answer tests pin it. Compression
codecs: none and gzip (stdlib); snappy/lz4/zstd are absent from this
container and raise loudly (strict-mode plug-point).

Decoder tolerance: a truncated final batch or a CRC mismatch yields
the batch's rows with ``crc_ok=false`` (when parseable) or a single
sentinel row carrying the undecodable remainder length — the
tolerate-and-null parser-family posture; a broker would truncate the
segment at the last valid batch on recovery (log recovery semantics),
and a replayable batch engine keeps the evidence instead.
"""

from __future__ import annotations

import gzip as _gzip
import struct
from typing import Iterator

# --------------------------------------------------------------------------
# CRC32C (Castagnoli) — table-driven, reflected polynomial 0x82F63B78.
# zlib.crc32 is CRC32/IEEE (0xEDB88320) and is NOT interchangeable.
# --------------------------------------------------------------------------

def _make_table() -> list[int]:
    tbl = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        tbl.append(c)
    return tbl


_CRC_TABLE = _make_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC32C of ``data``. Pure Python; callers are per-file Arrow
    kernels where the sequential walk already dominates, and batch
    files are flush-bounded like forward chunks."""
    c = crc ^ 0xFFFFFFFF
    tbl = _CRC_TABLE
    for b in data:
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


# --------------------------------------------------------------------------
# ZigZag varints (protobuf encoding, per the Kafka record spec)
# --------------------------------------------------------------------------

def _zz_dec(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def enc_varint(n: int) -> bytes:
    """Signed int → ZigZag varint bytes."""
    u = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def dec_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """(value, new_pos); raises ValueError on truncation/overlength."""
    u = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("varint: truncated")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zz_dec(u), pos
        shift += 7
        if shift > 63:
            raise ValueError("varint: too long")


# --------------------------------------------------------------------------
# Record and batch encode
# --------------------------------------------------------------------------

_COMPRESSION = {"none": 0, "gzip": 1}
# spec codes 2/3/4 = snappy/lz4/zstd — libraries absent here
_UNSUPPORTED_CODES = {2: "snappy", 3: "lz4", 4: "zstd"}

# fields after crc that the crc covers start at attributes:
_POST_CRC = struct.Struct(">hiqqqhii")


def _enc_record(ts_delta: int, off_delta: int, key: bytes | None,
                value: bytes | None,
                headers: list[tuple[str, bytes | None]]) -> bytes:
    body = bytearray(b"\x00")  # record attributes: unused, must be 0
    body += enc_varint(ts_delta)
    body += enc_varint(off_delta)
    if key is None:
        body += enc_varint(-1)
    else:
        body += enc_varint(len(key)) + key
    if value is None:
        body += enc_varint(-1)
    else:
        body += enc_varint(len(value)) + value
    body += enc_varint(len(headers))
    for hk, hv in headers:
        kb = hk.encode("utf-8")
        body += enc_varint(len(kb)) + kb
        if hv is None:
            body += enc_varint(-1)
        else:
            body += enc_varint(len(hv)) + hv
    return enc_varint(len(body)) + bytes(body)


def encode_batch(base_offset: int,
                 records: list[tuple[int, bytes | None, bytes | None,
                                     list[tuple[str, bytes | None]]]],
                 *, compression: str = "none",
                 producer_id: int = -1, producer_epoch: int = -1,
                 base_sequence: int = -1,
                 partition_leader_epoch: int = -1) -> bytes:
    """Records ``[(timestamp_ms, key, value, headers), …]`` → one
    RecordBatch v2. Offsets are ``base_offset + position``; the batch
    timestamp fields derive from the records (CreateTime semantics)."""
    if not records:
        raise ValueError("encode_batch: empty batch (the spec keeps "
                         "recordCount >= 1 outside control batches)")
    if compression not in _COMPRESSION:
        raise ValueError(
            f"kafka batch compression {compression!r}: only "
            f"{sorted(_COMPRESSION)} are available in this container "
            f"(snappy/lz4/zstd libs absent — strict plug-point)")
    base_ts = records[0][0]
    max_ts = max(r[0] for r in records)
    recs = b"".join(
        _enc_record(ts - base_ts, i, k, v, h)
        for i, (ts, k, v, h) in enumerate(records))
    if compression == "gzip":
        recs = _gzip.compress(recs, mtime=0)
    attrs = _COMPRESSION[compression]
    post = _POST_CRC.pack(attrs, len(records) - 1, base_ts, max_ts,
                          producer_id, producer_epoch, base_sequence,
                          len(records)) + recs
    crc = crc32c(post)
    # batchLength counts bytes after the batchLength field itself:
    # partitionLeaderEpoch(4) + magic(1) + crc(4) + post
    blen = 4 + 1 + 4 + len(post)
    head = struct.pack(">qii", base_offset, blen,
                       partition_leader_epoch) \
        + b"\x02" + struct.pack(">I", crc)
    return head + post


# --------------------------------------------------------------------------
# Batch decode (a file = concatenated batches, like a log segment)
# --------------------------------------------------------------------------

def decode_batches(buf: bytes, *, verify_crc: bool = True
                   ) -> Iterator[tuple[int, int, bytes | None,
                                       bytes | None,
                                       list[tuple[str, bytes | None]],
                                       bool]]:
    """Yield ``(offset, timestamp_ms, key, value, headers, crc_ok)``
    for every record in every batch of ``buf``. A truncated tail stops
    the walk (log-recovery semantics); an unsupported compression
    codec raises with the codec name."""
    pos = 0
    n = len(buf)
    while pos + 12 <= n:
        base_offset, blen = struct.unpack_from(">qi", buf, pos)
        end = pos + 12 + blen
        if blen < 49 or end > n:
            return  # truncated final batch — recovery truncation
        magic = buf[pos + 16]
        if magic != 2:
            raise ValueError(f"record batch magic {magic}: only v2 "
                             f"(magic=2) is implemented")
        (crc,) = struct.unpack_from(">I", buf, pos + 17)
        post = buf[pos + 21:end]
        crc_ok = (not verify_crc) or crc32c(post) == crc
        (attrs, _last_delta, base_ts, _max_ts, _pid, _pep, _bseq,
         rec_count) = _POST_CRC.unpack_from(post, 0)
        if not crc_ok:
            # contents are untrustworthy past a failed checksum (gzip
            # inflate may not even terminate cleanly) — one sentinel
            # row per bad batch keeps the evidence, DLQ-routable
            yield (base_offset, base_ts, None, None, [], False)
            pos = end
            continue
        recs = post[_POST_CRC.size:]
        codec = attrs & 0x07
        if codec == 1:
            recs = _gzip.decompress(recs)
        elif codec in _UNSUPPORTED_CODES:
            raise ValueError(
                f"kafka batch compression "
                f"{_UNSUPPORTED_CODES[codec]!r}: library absent in "
                f"this container (strict plug-point)")
        elif codec != 0:
            raise ValueError(f"kafka batch: unknown compression "
                             f"code {codec}")
        rp = 0
        for _ in range(rec_count):
            rlen, rp = dec_varint(recs, rp)
            rec_end = rp + rlen
            rp += 1  # record attributes (unused)
            ts_delta, rp = dec_varint(recs, rp)
            off_delta, rp = dec_varint(recs, rp)
            klen, rp = dec_varint(recs, rp)
            key = None if klen < 0 else recs[rp:rp + klen]
            rp += max(klen, 0)
            vlen, rp = dec_varint(recs, rp)
            value = None if vlen < 0 else recs[rp:rp + vlen]
            rp += max(vlen, 0)
            hcount, rp = dec_varint(recs, rp)
            headers: list[tuple[str, bytes | None]] = []
            for _h in range(hcount):
                hklen, rp = dec_varint(recs, rp)
                hk = recs[rp:rp + hklen].decode("utf-8")
                rp += hklen
                hvlen, rp = dec_varint(recs, rp)
                hv = None if hvlen < 0 else recs[rp:rp + hvlen]
                rp += max(hvlen, 0)
                headers.append((hk, hv))
            if rp != rec_end:
                raise ValueError("kafka record: length field "
                                 "disagrees with parsed body")
            yield (base_offset + off_delta, base_ts + ts_delta,
                   key, value, headers, crc_ok)
        pos = end
