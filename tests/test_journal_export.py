"""systemd Journal Export Format codec (sources/journal_export.py):
text + binary-safe field forms, entry boundaries, malformed-stream
tolerance, the Spark encode→decode identity, and the ts/tag lifts —
the interchange-format subset of upstream plugins/in_systemd."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.sources.journal_export import (
    _walk, decode_export, encode_export, py_encode_entry,
    with_journal_tag, with_journal_ts,
)


def test_walk_text_and_binary_forms():
    e1 = py_encode_entry([
        ("MESSAGE", "hello world"), ("PRIORITY", "6"),
        ("_SYSTEMD_UNIT", "nginx.service"),
        ("__REALTIME_TIMESTAMP", "1700000000123456")])
    # newline in value and raw bytes force the binary-safe form
    e2 = py_encode_entry([("MESSAGE", "line1\nline2"),
                          ("BLOB", b"\x00\xff\n=FAKE=line\n")])
    out = list(_walk(e1 + e2))
    assert len(out) == 2 and all(ok for _, ok in out)
    f1, f2 = out[0][0], out[1][0]
    assert f1["MESSAGE"] == "hello world"
    assert f1["_SYSTEMD_UNIT"] == "nginx.service"
    assert f2["MESSAGE"] == "line1\nline2"
    assert "FAKE" not in f2  # binary payload can't inject fields
    # the binary form is NAME \n le64(size) data \n, per the spec
    assert e2.startswith(b"MESSAGE\n"
                         + struct.pack("<Q", len(b"line1\nline2")))


def test_walk_tolerance():
    good = py_encode_entry([("MESSAGE", "ok")])
    # truncated binary length/data keeps the evidence, flags the entry
    out = list(_walk(good + b"BLOB\n" + struct.pack("<Q", 16) + b"ab"))
    assert out[0] == ({"MESSAGE": "ok"}, True)
    assert out[1][1] is False and "_PARTIAL" in out[1][0]
    # line with neither '=' nor a valid NAME
    out = list(_walk(b"MESSAGE=x\n???bad\n\n"))
    assert out[0][1] is False and out[0][0]["MESSAGE"] == "x"
    # missing trailing separator still yields the final entry
    assert list(_walk(b"A=1\n")) == [({"A": "1"}, True)]
    assert list(_walk(b"")) == []
    # trailing partial line (no newline) flags
    out = list(_walk(b"A=1\nB=partia"))
    assert out[0][1] is False and out[0][0]["A"] == "1"


def test_py_encode_entry_name_validation():
    with pytest.raises(ValueError, match="A-Z0-9_"):
        py_encode_entry([("bad-name", "x")])
    with pytest.raises(ValueError):
        py_encode_entry([("", "x")])


def _src(spark, n=300):
    return (spark.range(n)
            .select(F.col("id").alias("event_id"),
                    F.concat(F.lit("unit"), (F.col("id") % 4))
                    .alias("unit"),
                    F.concat(F.lit("msg "), F.col("id"))
                    .alias("MESSAGE"),
                    (F.col("id") % 8).cast("string").alias("PRIORITY"),
                    (F.lit(1700000000000000) + F.col("id") * 7919)
                    .cast("string").alias("__REALTIME_TIMESTAMP")))


def test_spark_encode_decode_identity(spark):
    src = _src(spark).withColumn(
        "_SYSTEMD_UNIT", F.concat(F.col("unit"), F.lit(".service")))
    streams = encode_export(
        src, ["MESSAGE", "PRIORITY", "_SYSTEMD_UNIT",
              "__REALTIME_TIMESTAMP"],
        group_col="unit", order_col="event_id")
    assert streams.count() == 4  # one stream per group
    dec = with_journal_tag(with_journal_ts(
        decode_export(streams, "stream", passthrough=["group"])))
    got = {tuple(r) for r in dec.select(
        "group", F.element_at("fields", "MESSAGE"),
        F.element_at("fields", "PRIORITY"), "ts", "tag",
        "entry_ok").collect()}
    exp = {tuple(r) for r in src.select(
        "unit", "MESSAGE", "PRIORITY",
        F.timestamp_micros(F.col("__REALTIME_TIMESTAMP").cast("long"))
        .cast("timestamp_ntz"),
        F.concat(F.lit("systemd."), F.col("unit"),
                 F.lit(".service")),
        F.lit(True)).collect()}
    assert got == exp


def test_decode_binary_column_and_missing_unit(spark):
    buf = (py_encode_entry([("MESSAGE", "b\nc"), ("X", b"\x01\x02")])
           + py_encode_entry([("MESSAGE", "no unit here")]))
    df = spark.createDataFrame([(buf,)], "stream binary")
    out = with_journal_tag(decode_export(df, "stream")).collect()
    assert len(out) == 2
    assert out[0]["fields"]["MESSAGE"] == "b\nc"
    assert {r["tag"] for r in out} == {"systemd.unknown"}
