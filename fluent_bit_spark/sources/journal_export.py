"""systemd Journal Export Format — the stream-payload subset of
upstream:plugins/in_systemd (SURVEY.md §2.1).

in_systemd proper reads the local journald socket/files through
sd-journal (a host connector — scoped out with the other transports),
but the journal's interchange encoding is a public, documented file
format: the Journal Export Format (systemd.io/JOURNAL_EXPORT_FORMATS;
``journalctl -o export`` writes it, ``systemd-journal-remote`` and
journald's HTTP gateway speak it on the wire). A capture of that
stream is a real file, and this module makes those bytes real — the
same file-subset posture as forward / OTLP / http / syslog framing.

Format (per the spec):

* entries are separated by an empty line (``\\n\\n``);
* a TEXT field is ``NAME=value\\n`` — value carries no newline;
* a field whose value contains newlines (or arbitrary bytes) is
  BINARY-SAFE: ``NAME\\n`` + uint64 **little-endian** byte length +
  the raw bytes + ``\\n``.

The binary-safe branch makes the walk self-delimiting and inherently
sequential — no regex/split can decode it safely, because a binary
value may contain ``\\n`` and even whole fake ``NAME=value`` lines —
so :func:`decode_export` is a per-STREAM Arrow kernel (Python once
per capture buffer, not per field), exactly the syslog-framing shape
(sources/syslog_frames.py). Encoding text-only entries, by contrast,
is pure string algebra and stays in Catalyst (:func:`encode_export`);
the binary-safe encode is provided as a pure-Python helper for test
vectors (:func:`py_encode_entry`).

Record semantics mirror in_systemd's output: each entry becomes one
record carrying the journal fields (MESSAGE, PRIORITY, _SYSTEMD_UNIT,
``__REALTIME_TIMESTAMP`` in **microseconds** since the epoch, …);
:func:`with_journal_ts` lifts the event time and
:func:`with_journal_tag` builds the route tag from the unit name
(the batch analogue of tagging by unit). Malformed input — a
truncated binary field, a field line with neither ``=`` nor a length
— yields the entry with ``entry_ok=false`` and the fields parsed so
far: tolerate-and-null, parser-family posture.

Round-trip ``decode(encode(x)) == x`` is pinned by tests and the
``journal_export_roundtrip`` oracle. Scale shape: encode is one hash
exchange keyed by the stream id; decode distributes one capture per
task and is map-only. Captures are bounded (journal-remote rotates;
a capture file is chunk-sized like a forward chunk).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# journal export field names: uppercase/digits/underscore, optionally
# prefixed with _ (trusted) or __ (address) fields — spec convention
_NAME_OK = frozenset(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")


def encode_export(df: DataFrame, field_cols: list[str], *,
                  group_col: str, order_col: str,
                  out: str = "stream") -> DataFrame:
    """Rows → one export-format stream per group:
    ``(group, n_entries, stream)``. Text fields only (values must not
    contain newlines — enforced by construction in callers; the
    binary-safe branch is decode-side + :func:`py_encode_entry`).
    Pure Catalyst: field lines concat per row, entries sort by
    ``order_col`` and join with the blank-line separator."""
    entry = F.concat(*[
        part for c in field_cols
        for part in (F.lit(c + "="), F.col(c).cast("string"),
                     F.lit("\n"))])
    return (df.groupBy(F.col(group_col).alias("group"))
            .agg(F.count("*").alias("n_entries"),
                 F.concat(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct(
                             F.col(order_col).alias("o"),
                             entry.alias("e")))),
                         lambda s: s["e"]),
                     "\n"), F.lit("\n")).alias(out)))


def py_encode_entry(fields: list[tuple[str, bytes | str]]) -> bytes:
    """One entry → export bytes, choosing the binary-safe form
    whenever a value contains a newline or is given as ``bytes``
    (journalctl's own rule). Test-vector twin of the Catalyst
    encoder; the decoder accepts both forms interleaved."""
    out = bytearray()
    for name, val in fields:
        nb = name.encode("ascii")
        if not nb or not set(nb) <= _NAME_OK:
            raise ValueError(f"journal field name {name!r}: "
                             f"[A-Z0-9_] only")
        if isinstance(val, str) and "\n" not in val:
            out += nb + b"=" + val.encode("utf-8") + b"\n"
        else:
            vb = val.encode("utf-8") if isinstance(val, str) else val
            out += nb + b"\n" + struct.pack("<Q", len(vb)) + vb + b"\n"
    out += b"\n"
    return bytes(out)


def _walk(buf: bytes) -> Iterator[tuple[dict[str, str], bool]]:
    """Yield ``(fields, entry_ok)`` per entry. Binary values decode
    UTF-8-with-replacement into the string map — in_systemd emits
    string records; lossless binary transport is the forward codec's
    job, not the journal reader's."""
    pos, n = 0, len(buf)
    fields: dict[str, str] = {}
    ok = True
    while pos < n:
        nl = buf.find(b"\n", pos)
        if nl < 0:  # trailing partial line — truncated capture
            fields["_PARTIAL"] = buf[pos:].decode("utf-8", "replace")
            ok = False
            break
        line = buf[pos:nl]
        if not line:  # blank line = entry boundary
            if fields:
                yield fields, ok
            fields, ok = {}, True
            pos = nl + 1
            continue
        eq = line.find(b"=")
        if eq > 0:
            fields[line[:eq].decode("ascii", "replace")] = \
                line[eq + 1:].decode("utf-8", "replace")
            pos = nl + 1
        elif set(line) <= _NAME_OK:
            # binary-safe: NAME \n le64(size) data \n
            if nl + 9 > n:
                fields["_PARTIAL"] = buf[pos:].decode("utf-8",
                                                      "replace")
                ok = False
                break
            (size,) = struct.unpack_from("<Q", buf, nl + 1)
            end = nl + 9 + size
            if end + 1 > n or buf[end:end + 1] != b"\n":
                fields["_PARTIAL"] = buf[pos:nl + 9].decode(
                    "utf-8", "replace")
                ok = False
                break
            fields[line.decode("ascii")] = \
                buf[nl + 9:end].decode("utf-8", "replace")
            pos = end + 1
        else:  # neither form — undecodable line
            fields["_PARTIAL"] = line.decode("utf-8", "replace")
            ok = False
            break
    if fields:
        yield fields, ok


def decode_export(df: DataFrame, col: str,
                  passthrough: list[str] | None = None) -> DataFrame:
    """BINARY/string column of export streams → one row per journal
    entry: ``(*passthrough, fields map<string,string>, entry_ok)``.
    Arrow kernel per stream buffer (sequential walk — see module
    docstring for why no split can do this)."""
    import pyarrow as pa

    pt = list(passthrough or [])
    out_ddl = (", ".join(f"`{c}` string" for c in pt)
               + (", " if pt else "")
               + "fields map<string,string>, entry_ok boolean")
    map_t = pa.map_(pa.string(), pa.string())

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            col0 = b.column(0)
            if pa.types.is_string(col0.type) \
                    or pa.types.is_large_string(col0.type):
                bufs = [s.encode("utf-8") if s is not None else None
                        for s in col0.to_pylist()]
            else:
                bufs = col0.to_pylist()
            pts = [b.column(1 + i).to_pylist() for i in range(len(pt))]
            out_pt: list[list] = [[] for _ in pt]
            out_f: list[list] = []
            out_ok: list[bool] = []
            for r, buf in enumerate(bufs):
                if buf is None:
                    continue
                for fields, ok in _walk(buf):
                    for i in range(len(pt)):
                        out_pt[i].append(pts[i][r])
                    out_f.append(list(fields.items()))
                    out_ok.append(ok)
            arrays = [pa.array(out_pt[i], type=pa.string())
                      for i in range(len(pt))]
            arrays += [pa.array(out_f, type=map_t),
                       pa.array(out_ok, type=pa.bool_())]
            yield pa.RecordBatch.from_arrays(
                arrays, names=pt + ["fields", "entry_ok"])

    cols = [F.col(col)] + [F.col(c) for c in pt]
    return df.select(*cols).mapInArrow(gen, out_ddl)


def with_journal_ts(df: DataFrame, out: str = "ts") -> DataFrame:
    """``__REALTIME_TIMESTAMP`` (decimal microseconds since epoch,
    per the export spec) → TIMESTAMP_NTZ."""
    return df.withColumn(
        out, F.timestamp_micros(
            F.element_at(F.col("fields"), "__REALTIME_TIMESTAMP")
            .cast("long")).cast("timestamp_ntz"))


def with_journal_tag(df: DataFrame, prefix: str = "systemd.",
                     out: str = "tag") -> DataFrame:
    """Route tag from the unit name — ``systemd.<unit>`` (the batch
    analogue of tagging journal records by their originating unit;
    entries with no ``_SYSTEMD_UNIT`` tag as ``<prefix>unknown``)."""
    unit = F.element_at(F.col("fields"), "_SYSTEMD_UNIT")
    return df.withColumn(
        out, F.concat(F.lit(prefix),
                      F.coalesce(unit, F.lit("unknown"))))
