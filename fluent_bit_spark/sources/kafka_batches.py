"""Kafka RecordBatch v2 segment files: the batch-payload subset of
upstream:plugins/in_kafka / out_kafka (SURVEY.md §2.1).

The Kafka plugins are librdkafka broker connectors — the transport
(brokers, consumer groups, rebalancing) is scoped out with the other
network connectors — but the bytes they move are the public
RecordBatch v2 format (functions/kafka_codec.py), and a topic's log
segment / dump / spool file is a plain concatenation of those
batches. This module implements that file subset for real, the same
posture as forward chunks (sources/forward.py):

* :func:`pack_record_batches` — fold each Spark partition's rows into
  one RecordBatch per topic (Arrow-batched; no shuffle — a batch is a
  per-producer-flush unit, exactly like a fluent-bit chunk, so at
  1000 executors each task emits its own batches).
* :func:`write_kafka_segments` — land one ``.log`` file per (task,
  topic) via ``foreachPartition`` (executor-side IO fan-out).
* :func:`read_kafka_segments` — ``binaryFile`` scan → per-FILE Arrow
  decode (CRC32C-verified; a corrupt batch yields a ``crc_ok=false``
  sentinel row, DLQ-routable) → typed rows. Topic rides the file
  name, as it does in a real broker's ``<topic>-<partition>/`` layout
  — the batch format itself carries no topic. Python runs once per
  file, not per row.

Timestamps are Kafka CreateTime milliseconds (int64); the session
pins UTC so the TIMESTAMP_NTZ → instant cast is deterministic, the
same argument as forward's EventTime encode (sources/forward.py:110).
Round-trip ``decode(pack(x)) == x`` is pinned by tests and the
``kafka_batch_roundtrip`` oracle.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import kafka_codec as kc

# decoded-row schema (headers as array<struct> — stable across the
# Arrow boundary where map<> pickling is version-sensitive)
_DECODE_FIELDS = ("offset long, ts_ms long, key binary, value binary, "
                  "headers array<struct<key: string, value: binary>>, "
                  "crc_ok boolean")


def pack_record_batches(df: DataFrame, *, topic_col: str = "topic",
                        ts_col: str | None = None,
                        key_col: str | None = None,
                        value_col: str = "value",
                        header_cols: list[str] | None = None,
                        compression: str = "none") -> DataFrame:
    """Rows → ``(topic, n_records, batch BINARY)`` — one RecordBatch
    v2 per topic per task. ``ts_col=None`` stamps CreateTime 0
    (deterministic for payload tables with no event time); header
    columns ride as record headers keyed by their column name, string
    or binary valued. Offsets are batch-relative (``baseOffset=0`` —
    a producer never knows its absolute offset; the broker assigns
    it, and a file subset has no broker)."""
    import pyarrow as pa

    hdr_names = list(header_cols or [])
    dt = dict(df.dtypes)
    for c in hdr_names:
        if dt[c] not in ("string", "binary"):
            raise ValueError(f"kafka header column {c}: {dt[c]} "
                             f"(string/binary only)")

    def as_bytes(c: str) -> "F.Column":
        # binary passes through; anything else renders UTF-8 via its
        # string form (ANSI forbids numeric→binary casts directly)
        if dt.get(c) == "binary":
            return F.col(c)
        return F.col(c).cast("string").cast("binary")

    ts = (F.lit(0).cast("long") if ts_col is None
          else F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                       / 1000).cast("long"))
    key = (F.lit(None).cast("binary") if key_col is None
           else as_bytes(key_col))
    sel = [F.col(topic_col).alias("topic"), ts.alias("ts_ms"),
           key.alias("key"), as_bytes(value_col).alias("value")]
    # positional aliases: a header column may also be the topic/key
    # column (tracing the route key is a common header)
    sel += [as_bytes(c).alias(f"_h{i}") for i, c in enumerate(hdr_names)]
    narrow = df.select(*sel)

    out_schema = pa.schema([("topic", pa.string()),
                            ("n_records", pa.int64()),
                            ("batch", pa.binary())])

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[str, list] = {}
        for b in batches:
            topics = b.column(0).to_pylist()
            tss = b.column(1).to_pylist()
            keys = b.column(2).to_pylist()
            vals = b.column(3).to_pylist()
            hdrs = [b.column(4 + i).to_pylist()
                    for i in range(len(hdr_names))]
            for i, t in enumerate(topics):
                h = [(hn, hdrs[j][i])
                     for j, hn in enumerate(hdr_names)]
                acc.setdefault(t, []).append(
                    (tss[i], keys[i], vals[i], h))
        if not acc:
            return
        rows = [(t, len(recs),
                 kc.encode_batch(0, recs, compression=compression))
                for t, recs in sorted(acc.items())]
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in rows], type=out_schema.types[i])
             for i in range(3)], schema=out_schema)

    return narrow.mapInArrow(
        fold, "topic string, n_records long, batch binary")


def decode_kafka_binary(df: DataFrame, col: str,
                        passthrough: list[str] | None = None
                        ) -> DataFrame:
    """Decode a BINARY column of concatenated RecordBatch v2 bytes to
    rows ``(*passthrough, offset, ts_ms, key, value, headers,
    crc_ok)``. Arrow-batched; Python runs per batch buffer, not per
    record. ``passthrough`` string columns (topic, source path) ride
    along to every decoded row."""
    import pyarrow as pa

    pt = list(passthrough or [])
    hdr_t = pa.list_(pa.struct([("key", pa.string()),
                                ("value", pa.binary())]))
    out_ddl = (", ".join(f"`{c}` string" for c in pt)
               + (", " if pt else "") + _DECODE_FIELDS)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            bufs = b.column(0).to_pylist()
            pts = [b.column(1 + i).to_pylist() for i in range(len(pt))]
            out: list[list] = [[] for _ in range(len(pt) + 6)]
            for r, buf in enumerate(bufs):
                if buf is None:
                    continue
                for (off, ts_ms, key, val, hdrs,
                     ok) in kc.decode_batches(buf):
                    for i in range(len(pt)):
                        out[i].append(pts[i][r])
                    base = len(pt)
                    out[base].append(off)
                    out[base + 1].append(ts_ms)
                    out[base + 2].append(key)
                    out[base + 3].append(val)
                    out[base + 4].append(
                        [{"key": k, "value": v} for k, v in hdrs])
                    out[base + 5].append(ok)
            arrays = [pa.array(out[i], type=pa.string())
                      for i in range(len(pt))]
            arrays += [pa.array(out[len(pt)], type=pa.int64()),
                       pa.array(out[len(pt) + 1], type=pa.int64()),
                       pa.array(out[len(pt) + 2], type=pa.binary()),
                       pa.array(out[len(pt) + 3], type=pa.binary()),
                       pa.array(out[len(pt) + 4], type=hdr_t),
                       pa.array(out[len(pt) + 5], type=pa.bool_())]
            yield pa.RecordBatch.from_arrays(
                arrays, names=pt + ["offset", "ts_ms", "key", "value",
                                    "headers", "crc_ok"])

    cols = [F.col(col)] + [F.col(c) for c in pt]
    return df.select(*cols).mapInArrow(gen, out_ddl)


def with_kafka_ts(df: DataFrame, out: str = "ts") -> DataFrame:
    """CreateTime millis → TIMESTAMP_NTZ (UTC session, millisecond
    precision — Kafka's native resolution)."""
    return df.withColumn(
        out, F.timestamp_millis(F.col("ts_ms")).cast("timestamp_ntz"))


def write_kafka_segments(df: DataFrame, out_dir: str,
                         topic_col: str = "topic",
                         batch_col: str = "batch") -> None:
    """Land one ``.log`` file per batch row, named
    ``<topic>-<uuid>.log`` (executor-side IO; the broker's
    ``<topic>-<partition>/segment.log`` layout flattened to names the
    reader regexes the topic back out of)."""
    import os
    import uuid

    t_idx = df.columns.index(topic_col)
    b_idx = df.columns.index(batch_col)

    def dump(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            name = f"{r[t_idx]}-{uuid.uuid4().hex[:12]}.log"
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(r[b_idx])

    df.foreachPartition(dump)


def read_kafka_segments(spark: SparkSession, path: str | list[str],
                        with_path: bool = False) -> DataFrame:
    """Batch in_kafka subset: scan ``*.log`` batch files and decode.
    One file per task slot (``binaryFile``); a batch file is bounded
    by the producer's flush size, so per-task memory is bounded like
    any consumer's ``max.partition.fetch.bytes``. ``with_path``
    propagates the source file as ``_input_file`` (lineage —
    ``input_file_name()`` does not survive the Python boundary)."""
    paths = path if isinstance(path, list) else [path]
    raw = (spark.read.format("binaryFile").load(paths)
           .select("content",
                   F.regexp_extract(F.col("path"),
                                    r"([^/]+)-[0-9a-f]{12}\.log$", 1)
                   .alias("topic"),
                   F.col("path").alias("_input_file")))
    pt = ["topic"] + (["_input_file"] if with_path else [])
    return decode_kafka_binary(raw, "content", passthrough=pt)
