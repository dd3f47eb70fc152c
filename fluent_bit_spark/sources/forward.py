"""Forward-protocol chunk files: the batch subset of in_forward /
out_forward (SURVEY.md §2.1).

The forward protocol proper is a TCP connector (scoped out with the
other protocol connectors), but its PAYLOAD — msgpack event streams,
``[tag, entries]`` messages, fluent-bit's on-disk buffer chunks
(upstream:src/flb_input_chunk.c stores exactly this stream) — is a
file format, and that subset is implemented here for real, the same
posture as the OTLP/JSON file subset (sources/otlp.py):

* ``entries_column`` / ``pack_chunks`` — ENCODE rows to entry bytes
  with the pure-Catalyst msgpack encoder (functions/msgpack.py; no
  Python boundary), then fold each Spark partition's rows into one
  PackedForward ``[tag, bin]`` message per tag (Arrow-batched, one
  fold per partition — mirroring fluent-bit, where a chunk is a
  per-input buffer, not a global aggregate; at 1000 executors each
  task emits its own chunks, no shuffle).
* ``write_forward_chunks`` — lands one ``.fwd`` file per (partition,
  tag) via ``foreachPartition`` (executor-side IO fan-out, like the
  out_file sink but bytes instead of lines).
* ``read_forward_files`` — ``binaryFile`` scan → per-FILE Arrow-batched
  decode (``functions.msgpack.decode_forward_events``; accepts Message
  / Forward / PackedForward / gzip CompressedPackedForward / bare chunk
  streams) → typed columns per a field spec. Python runs once per
  file, not per row.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import msgpack as mp

_TYPES = {"long": "int64", "bigint": "int64", "int": "int32",
          "string": "string", "double": "float64",
          "boolean": "bool", "binary": "binary",
          "array<int>": "list<item: int32>",
          "array<bigint>": "list<item: int64>"}


def fields_from_schema(df: DataFrame,
                       cols: list[str]) -> list[tuple[str, str]]:
    """Derive an encoder field spec from the frame's own dtypes
    (msgpack-expressible subset only; raises on anything else so a
    config typo can't silently drop a column)."""
    dt = dict(df.dtypes)
    out = []
    for c in cols:
        t = dt[c]
        if t not in _TYPES:
            raise ValueError(f"forward sink: column {c}: {t} has no "
                             f"msgpack mapping (supported: "
                             f"{sorted(_TYPES)})")
        out.append((c, t))
    return out


def _encode_datatype(dt, col: Column) -> Column:
    from pyspark.sql import types as T

    ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    if isinstance(dt, ints):
        return mp.encode_int(col.cast("long"))
    if isinstance(dt, T.StringType):
        return mp.encode_str(col)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return mp.encode_float64(col.cast("double"))
    if isinstance(dt, T.BooleanType):
        return mp.encode_bool(col)
    if isinstance(dt, T.BinaryType):
        return mp.encode_bin(col)
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, ints):
        return mp.encode_int_array(col)
    if isinstance(dt, T.StructType):
        # nested record → nested msgpack map (fluent-bit nests freely)
        m = mp.encode_map([(f.name, _encode_datatype(f.dataType,
                                                     col[f.name]))
                           for f in dt.fields])
        return F.when(col.isNull(), F.unhex(F.lit("c0"))).otherwise(m)
    raise ValueError(f"forward sink: no msgpack mapping for {dt}")


def record_entries(df: DataFrame, cols: list[str],
                   ts_col: str | None = None,
                   out: str = "entry") -> DataFrame:
    """Schema-driven twin of ``entries_column``: the encoder spec is
    walked off ``df.schema`` itself (ints of any width, strings,
    doubles, bools, binary, int arrays, and nested STRUCTs → nested
    msgpack maps). Raises on an inexpressible column type — a config
    typo must not silently drop a field."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    rec = mp.encode_map(
        [(c, _encode_datatype(fields[c], F.col(c))) for c in cols])
    ts = (F.timestamp_micros(F.lit(0)) if ts_col is None
          else F.col(ts_col).cast("timestamp"))
    return df.withColumn(out, mp.encode_array(
        [mp.encode_event_time(ts), rec]))


def entries_column(df: DataFrame, ts_col: str | None,
                   fields: list[tuple[str, str]],
                   out: str = "entry") -> DataFrame:
    """Add a BINARY ``[EventTime, record]`` entry column (JVM-side).
    ``ts_col=None`` stamps EventTime(0, 0) — deterministic for payload
    tables that carry no event time (the tokens pipeline)."""
    spec = [(k, F.col(k), t) for k, t in fields]
    # parquet event times are TIMESTAMP_NTZ; the session pins UTC, so
    # the cast to instant-typed TIMESTAMP is deterministic
    ts = (F.timestamp_micros(F.lit(0)) if ts_col is None
          else F.col(ts_col).cast("timestamp"))
    return df.withColumn(out, mp.encode_forward_entry(ts, spec))


def pack_chunks(df: DataFrame, tag_col: str = "tag",
                entry_col: str = "entry",
                with_options: bool = True,
                compress: str | None = None) -> DataFrame:
    """Fold each partition's entries into PackedForward messages —
    one ``[tag, bin, {"size": n}]`` per tag per partition, returned as
    ``(tag, n_entries, chunk BINARY)`` rows. No shuffle: chunks are
    per-task, exactly like fluent-bit's per-input buffer chunks.
    ``compress="gzip"`` emits CompressedPackedForward (the entry
    stream gzipped inside the bin, option ``"compressed": "gzip"`` —
    out_forward's Compress gzip)."""
    import gzip as _gzip

    import pyarrow as pa

    if compress not in (None, "gzip"):
        raise ValueError("compress must be None or 'gzip'")
    use_opts = with_options or compress is not None
    out_schema = pa.schema([("tag", pa.string()),
                            ("n_entries", pa.int64()),
                            ("chunk", pa.binary())])

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[str, list[bytes]] = {}
        for b in batches:
            tags = b.column(0).to_pylist()
            ents = b.column(1).to_pylist()
            for t, e in zip(tags, ents):
                acc.setdefault(t, []).append(e)
        if not acc:
            return
        rows = []
        for tag in sorted(acc):
            ents = acc[tag]
            body = b"".join(ents)
            opts: dict = {"size": len(ents)}
            if compress == "gzip":
                body = _gzip.compress(body, mtime=0)  # deterministic
                opts["compressed"] = "gzip"
            packed = (b"\x93" if use_opts else b"\x92") \
                + mp.py_encode(tag) + mp.py_encode(body)
            if use_opts:
                packed += mp.py_encode(opts)
            rows.append((tag, len(ents), packed))
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in rows], type=out_schema.types[i])
             for i in range(3)], schema=out_schema)

    narrow = df.select(F.col(tag_col).alias("tag"),
                       F.col(entry_col).alias("entry"))
    return narrow.mapInArrow(fold, "tag string, n_entries long, chunk binary")


def pack_chunks_arrow(df: DataFrame, tag_col: str = "tag",
                      cols: list[str] | None = None,
                      with_options: bool = True,
                      compress: str | None = None) -> DataFrame:
    """Fused fast path: encode entries AND fold chunks in one
    vectorized Arrow kernel (functions/msgpack_arrow.py) — no
    intermediate entry column, no per-row Python. Byte-identical
    output to ``entries_column`` + ``pack_chunks`` (equivalence-gated
    in tests/test_forward.py); restricted to string / int / int-array
    payloads with the EventTime(0, 0) stamp — the msgpack sink falls
    back to the Catalyst path for anything else."""
    import gzip as _gzip

    import numpy as np
    import pyarrow as pa

    from ..functions import msgpack_arrow as ma

    if compress not in (None, "gzip"):
        raise ValueError("compress must be None or 'gzip'")
    cols = cols or [c for c in df.columns if c != tag_col]
    dt = dict(df.dtypes)
    fields = [(c, ma.plan_kind(dt[c])) for c in cols]
    use_opts = with_options or compress is not None

    out_schema = pa.schema([("tag", pa.string()),
                            ("n_entries", pa.int64()),
                            ("chunk", pa.binary())])

    def fold(batches):
        acc: dict[str, list[bytes]] = {}
        counts: dict[str, int] = {}
        for b in batches:
            if b.num_rows == 0:
                continue
            tags = b.column(0)
            codes_arr = tags.dictionary_encode()
            codes = np.asarray(codes_arr.indices)
            order = np.argsort(codes, kind="stable")
            sorted_b = b.take(pa.array(order))
            buf, ends = ma.encode_entries(sorted_b, fields)
            starts = np.concatenate([[0], ends[:-1]])
            sc = codes[order]
            bounds = np.flatnonzero(np.diff(sc)) + 1
            grp_starts = np.concatenate([[0], bounds])
            grp_ends = np.concatenate([bounds, [len(sc)]])
            dict_vals = codes_arr.dictionary.to_pylist()
            bb = buf.tobytes()
            for gs, ge in zip(grp_starts, grp_ends):
                tag = dict_vals[sc[gs]]
                acc.setdefault(tag, []).append(
                    bb[starts[gs]:ends[ge - 1]])
                counts[tag] = counts.get(tag, 0) + int(ge - gs)
        if not acc:
            return
        rows = []
        for tag in sorted(acc):
            body = b"".join(acc[tag])
            opts: dict = {"size": counts[tag]}
            if compress == "gzip":
                body = _gzip.compress(body, mtime=0)
                opts["compressed"] = "gzip"
            packed = (b"\x93" if use_opts else b"\x92") \
                + mp.py_encode(tag) + mp.py_encode(body)
            if use_opts:
                packed += mp.py_encode(opts)
            rows.append((tag, counts[tag], packed))
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in rows], type=out_schema.types[i])
             for i in range(3)], schema=out_schema)

    narrow = df.select(F.col(tag_col).alias("tag"), *cols)
    return narrow.mapInArrow(fold, "tag string, n_entries long, "
                                   "chunk binary")


def write_forward_chunks(df: DataFrame, out_dir: str,
                         tag_col: str = "tag",
                         chunk_col: str = "chunk") -> None:
    """Land one ``.fwd`` file per chunk row (executor-side IO)."""
    import os
    import uuid

    tag_idx = df.columns.index(tag_col)
    chunk_idx = df.columns.index(chunk_col)

    def dump(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            name = f"{r[tag_idx]}-{uuid.uuid4().hex[:12]}.fwd"
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(r[chunk_idx])

    df.foreachPartition(dump)


def _decode_schema(fields: list[tuple[str, str]],
                   with_path: bool) -> str:
    cols = ", ".join(f"`{k}` {t}" for k, t in fields)
    path = "_input_file string, " if with_path else ""
    return f"{path}tag string, sec long, nsec long, {cols}"


def decode_forward_binary(df: DataFrame, col: str,
                          fields: list[tuple[str, str]],
                          path_col: str | None = None) -> DataFrame:
    """Decode a BINARY column of forward-protocol messages (or bare
    chunk payloads) into typed rows ``(tag, sec, nsec, *fields)``.
    Arrow-batched; Python runs per message buffer, not per row.
    ``path_col`` propagates a source-file column to every decoded row
    as ``_input_file`` (lineage — ``input_file_name()`` does not
    survive the Python boundary)."""
    import pyarrow as pa

    def _pa_type(t: str):
        if t == "array<int>":
            return pa.list_(pa.int32())
        if t == "array<bigint>":
            return pa.list_(pa.int64())
        return pa.type_for_alias(_TYPES[t])

    names = [k for k, _ in fields]
    pa_types = [_pa_type(t) for _, t in fields]
    with_path = path_col is not None

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            paths: list[str] = []
            tags: list[str] = []
            secs: list[int] = []
            nsecs: list[int] = []
            vals: list[list] = [[] for _ in names]
            srcs = (b.column(1).to_pylist() if with_path
                    else [None] * b.num_rows)
            for buf, src in zip(b.column(0).to_pylist(), srcs):
                if buf is None:
                    continue
                for tag, sec, nsec, rec in mp.decode_forward_events(buf):
                    if with_path:
                        paths.append(src)
                    tags.append(tag)
                    secs.append(sec)
                    nsecs.append(nsec)
                    for i, k in enumerate(names):
                        vals[i].append(rec.get(k))
            arrays = ([pa.array(paths, type=pa.string())]
                      if with_path else [])
            arrays += [pa.array(tags, type=pa.string()),
                       pa.array(secs, type=pa.int64()),
                       pa.array(nsecs, type=pa.int64())]
            arrays += [pa.array(v, type=pa_types[i])
                       for i, v in enumerate(vals)]
            yield pa.RecordBatch.from_arrays(
                arrays, names=((["_input_file"] if with_path else [])
                               + ["tag", "sec", "nsec"] + names))

    cols = [F.col(col)] + ([F.col(path_col)] if with_path else [])
    return (df.select(*cols)
              .mapInArrow(gen, _decode_schema(fields, with_path)))


def with_event_ts(df: DataFrame, out: str = "ts") -> Column | DataFrame:
    """Reassemble a TIMESTAMP from the decoded (sec, nsec) pair at
    microsecond precision (Spark timestamps are micros)."""
    return df.withColumn(
        out, F.timestamp_micros(
            F.col("sec") * 1000000
            + F.floor(F.col("nsec") / 1000).cast("long")
        ).cast("timestamp_ntz"))


# the tokens-pipeline payload as it rides a forward chunk
# (plans/pipeline.py TOKENS_SCHEMA)
TOKEN_FIELDS: list[tuple[str, str]] = [
    ("doc_id", "string"), ("tokens", "array<int>"),
    ("n_tok", "int"), ("source", "string")]


def read_forward_files(spark: SparkSession, path: str | list[str],
                       fields: list[tuple[str, str]],
                       with_path: bool = False) -> DataFrame:
    """Batch in_forward subset: scan ``*.fwd`` chunk files and decode.
    The ``binaryFile`` source distributes one file per task slot; a
    chunk file is bounded by the sender's flush size, so per-task
    memory is bounded like any fluent-bit chunk consumer."""
    paths = path if isinstance(path, list) else [path]
    raw = (spark.read.format("binaryFile").load(paths)
           .select("content", "path"))
    return decode_forward_binary(raw, "content", fields,
                                 path_col="path" if with_path else None)
