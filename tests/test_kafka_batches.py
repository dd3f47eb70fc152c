"""Kafka RecordBatch v2 codec (functions/kafka_codec.py,
sources/kafka_batches.py): CRC32C known-answer vectors, varint
edges, batch round trips (plain + gzip), CRC-failure sentinels,
truncated-segment recovery, the Spark pack→decode identity, and the
segment-file write/read loop — the batch-payload subset of upstream
plugins/in_kafka / out_kafka."""

from __future__ import annotations

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.functions import kafka_codec as kc
from fluent_bit_spark.sources import kafka_batches as kb

RECS = [(1700000000000, b"k1", b'{"a":1}', [("h", b"x")]),
        (1700000000005, None, b'{"a":2}', []),
        (1700000000003, b"k3", None, [("h", None), ("i", b"")]),
        (1699999999990, b"", b"\x00\xff" * 40,
         [("trace", b"abc123"), ("unit", b"caf\xc3\xa9")])]


def test_crc32c_known_answers():
    # the canonical Castagnoli check value + spot vectors; zlib's
    # CRC32 (IEEE) gives 0xCBF43926 for the first — catching a
    # wrong-polynomial implementation
    assert kc.crc32c(b"123456789") == 0xE3069283
    assert kc.crc32c(b"") == 0
    assert kc.crc32c(b"\x00" * 32) == 0x8A9136AA
    assert kc.crc32c(b"\xff" * 32) == 0x62A8AB43


def test_varint_edges():
    for n in (0, 1, -1, 63, -64, 64, -65, 127, -128, 300, -300,
              2**31 - 1, -2**31, 2**62, -2**62, 2**63 - 1, -2**63):
        b = kc.enc_varint(n)
        v, p = kc.dec_varint(b, 0)
        assert (v, p) == (n, len(b)), n
    # single-byte boundary: zigzag puts -64..63 in one byte
    assert len(kc.enc_varint(63)) == 1 and len(kc.enc_varint(-64)) == 1
    assert len(kc.enc_varint(64)) == 2
    with pytest.raises(ValueError):
        kc.dec_varint(b"\x80", 0)  # truncated


@pytest.mark.parametrize("comp", ["none", "gzip"])
def test_batch_roundtrip(comp):
    batch = kc.encode_batch(100, RECS, compression=comp)
    out = list(kc.decode_batches(batch))
    assert [r[:5] for r in out] == [
        (100 + i, ts, k, v, h) for i, (ts, k, v, h) in enumerate(RECS)]
    assert all(r[5] for r in out)
    # header layout spot-checks: magic byte + attributes codec bits
    assert batch[16] == 2
    (attrs,) = struct.unpack_from(">h", batch, 21)
    assert attrs & 0x07 == (0 if comp == "none" else 1)


def test_batch_crc_failure_yields_sentinel():
    batch = kc.encode_batch(7, RECS, compression="gzip")
    bad = bytearray(batch)
    bad[-1] ^= 0xFF
    out = list(kc.decode_batches(bytes(bad)))
    assert out == [(7, RECS[0][0], None, None, [], False)]
    # verify_crc=False on an uncompressed batch parses anyway
    plain = bytearray(kc.encode_batch(7, RECS))
    plain[-1] ^= 0xFF  # corrupts the last header value byte
    out = list(kc.decode_batches(bytes(plain), verify_crc=False))
    assert len(out) == len(RECS)


def test_segment_concat_and_truncation():
    b1 = kc.encode_batch(0, RECS)
    b2 = kc.encode_batch(len(RECS), RECS[:2], compression="gzip")
    seg = b1 + b2
    out = list(kc.decode_batches(seg))
    assert [r[0] for r in out] == [0, 1, 2, 3, 4, 5]
    # log-recovery: a truncated final batch is dropped, prior kept
    out = list(kc.decode_batches(seg + b1[:30]))
    assert len(out) == 6
    assert list(kc.decode_batches(b"")) == []


def test_unsupported_codec_raises():
    with pytest.raises(ValueError, match="snappy"):
        kc.encode_batch(0, RECS, compression="snappy")
    batch = bytearray(kc.encode_batch(0, RECS[:1]))
    # flip attributes to codec 3 (lz4) and restamp the CRC
    struct.pack_into(">h", batch, 21, 3)
    struct.pack_into(">I", batch, 17, kc.crc32c(bytes(batch[21:])))
    with pytest.raises(ValueError, match="lz4"):
        list(kc.decode_batches(bytes(batch)))


def test_empty_batch_rejected():
    with pytest.raises(ValueError, match="empty"):
        kc.encode_batch(0, [])


def _events(spark, n=400):
    return (spark.range(n)
            .select(F.col("id").alias("event_id"),
                    F.timestamp_micros(F.lit(1700000000000000)
                                       + F.col("id") * 1001)
                    .alias("ts"),
                    F.concat(F.lit("t"), (F.col("id") % 3))
                    .alias("topic"),
                    F.concat(F.lit('{"id":'), F.col("id"),
                             F.lit("}")).alias("payload")))


def test_spark_pack_decode_identity(spark):
    ev = _events(spark).withColumn(
        "k", F.col("event_id").cast("string"))
    chunks = kb.pack_record_batches(
        ev, topic_col="topic", ts_col="ts", key_col="k",
        value_col="payload", header_cols=["topic"])
    back = kb.decode_kafka_binary(chunks, "batch",
                                  passthrough=["topic"])
    got = {tuple(r) for r in back.select(
        "topic", "ts_ms", F.col("key").cast("string"),
        F.col("value").cast("string"),
        F.element_at("headers", 1)["value"].cast("string"),
        "crc_ok").collect()}
    exp = {tuple(r) for r in ev.select(
        "topic",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
        .cast("long"),
        "k", "payload", "topic", F.lit(True)).collect()}
    assert got == exp
    # one batch per (task, topic); with <=4 partitions and 3 topics
    # the chunk count is bounded — no per-row explosion
    assert chunks.count() <= 4 * 3


def test_spark_null_key_and_ts_default(spark):
    ev = _events(spark, 50)
    chunks = kb.pack_record_batches(ev, topic_col="topic",
                                    value_col="payload")
    back = kb.with_kafka_ts(kb.decode_kafka_binary(
        chunks, "batch", passthrough=["topic"]))
    rows = back.select("key", "ts_ms", "ts").distinct().collect()
    assert all(r["key"] is None and r["ts_ms"] == 0 for r in rows)
    assert str(rows[0]["ts"]) == "1970-01-01 00:00:00"


def test_segment_file_write_read_loop(spark, tmp_path):
    ev = _events(spark, 200).withColumn(
        "k", F.col("event_id").cast("string"))
    chunks = kb.pack_record_batches(
        ev, topic_col="topic", ts_col="ts", key_col="k",
        value_col="payload")
    out_dir = str(tmp_path / "segments")
    kb.write_kafka_segments(chunks, out_dir)
    files = glob.glob(os.path.join(out_dir, "*.log"))
    assert files and all(os.path.getsize(f) > 61 for f in files)
    back = kb.read_kafka_segments(spark, out_dir)
    got = {tuple(r) for r in back.select(
        "topic", F.col("key").cast("string"),
        F.col("value").cast("string")).collect()}
    exp = {tuple(r) for r in ev.select("topic", "k",
                                       "payload").collect()}
    assert got == exp


def test_header_type_rejection(spark):
    ev = _events(spark, 10)
    with pytest.raises(ValueError, match="header column"):
        kb.pack_record_batches(ev, topic_col="topic",
                               value_col="payload",
                               header_cols=["event_id"])


def test_kafka_output_from_config(spark, tmp_path):
    """[OUTPUT] Name kafka: a config-driven run lands RecordBatch v2
    segment files whose decoded records reproduce the routed good
    frame (topic = tag, key = Message_Key_Field, value = JSON)."""
    import json

    from fluent_bit_spark import fixtures as fx
    from fluent_bit_spark.plans.config import (parse_classic,
                                               spec_from_tree)
    from fluent_bit_spark.plans.pipeline import run_pipeline

    tok = str(tmp_path / "tok")
    fx.generate_tokens_table(tok, 600)
    conf = ("[INPUT]\n    Name tokens\n    Format tokens\n"
            "[OUTPUT]\n    Name kafka\n    Match *\n    Sink s\n"
            "    Message_Key_Field doc_id\n")
    spec, io = spec_from_tree(parse_classic(conf))
    assert spec.sink_format == "kafka"
    assert spec.kafka_output["message_key_field"] == "doc_id"
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, spec, tok, out)
    back = kb.read_kafka_segments(spark, f"{out}/sinks/s/batch_id=0")
    rows = back.select("topic", F.col("key").cast("string"),
                       F.col("value").cast("string"), "crc_ok").collect()
    assert len(rows) == stats["rows_in"] - stats["rows_dlq"]
    assert all(r["crc_ok"] for r in rows)
    recs = [json.loads(r["value"]) for r in rows]
    assert all(r["key"] == rec["doc_id"] for r, rec in zip(rows, recs))
    # topics are the route tags
    assert all(r["topic"].startswith(("app.", "err.")) for r in rows)
