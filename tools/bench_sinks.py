"""Sink-payload-codec volume evidence: es _bulk / loki push bodies and
octet-framed syslog encode→decode at millions of records, with
per-phase walls and shuffle bytes (completes the volume set for the
round-5 sink codecs; methodology identical to PACK).

The sf0.1 events table (100k rows) verifies byte-exactness but cannot
stress the 100 TB claims, so this script generates a deterministic
synthetic log table (pure Spark SQL, no driver-side data) at two
sizes and runs the REAL codecs:

  - ``to_es_bulk`` with Logstash_Format daily indexes — the ordering
    window and body agg key on (index, batch); with D distinct days
    the global ordering parallelizes over D windows. Conservation:
    sum(n_records) == rows.
  - ``to_loki_push`` with a bounded label set (service × day) — one
    hash exchange keyed by the label set; per-stream value strings are
    bounded by the label cardinality contract. Conservation:
    sum(n_values) == rows.
  - octet framing: Catalyst encode (per-connection string_agg) →
    Arrow-kernel decode. Conservation: decoded frame count == rows and
    every frame_ok.

Linearity between sizes is the evidence: a codec whose wall or
shuffle bytes grow super-linearly in rows is a 100 TB scale-killer.
Per NOTES #19 the gate compares the two LARGER sizes when three are
given.

Usage:
    python tools/bench_sinks.py --sizes 1600000,16000000 \
        [--md BENCH/SINKS.md] [--gate]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SERVICES = 40
N_DAYS = 14
N_CONNS_PER_M = 4000     # framed connections per million rows


def shuffle_totals(ui_port: int = 4040) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all stages
    so far, via the Spark UI REST API."""
    base = f"http://localhost:{ui_port}/api/v1/applications"
    with urllib.request.urlopen(base, timeout=10) as r:
        apps = json.load(r)
    app_id = apps[0]["id"]
    with urllib.request.urlopen(f"{base}/{app_id}/stages", timeout=10) as r:
        stages = json.load(r)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def events_sql(n: int) -> str:
    """Deterministic log rows: service/day bounded label space, ts
    spread over N_DAYS, message with per-row unique content."""
    return f"""
    SELECT id AS event_id,
           timestamp_seconds(1700000000
               + pmod(xxhash64(id, 3), {N_DAYS}) * 86400
               + pmod(xxhash64(id, 5), 86400)) AS ts,
           'svc' || pmod(xxhash64(id, 7), {N_SERVICES}) AS service,
           'level=info msg="evt ' || id || ' ' ||
           md5(CAST(id AS STRING)) || '" code=' ||
           (200 + pmod(xxhash64(id, 11), 5)) AS line
    FROM range({n})
    """


def run_size(n: int) -> dict:
    from pyspark.sql import functions as F

    from fluent_bit_spark.functions.serialize import (to_es_bulk,
                                                      to_loki_push)
    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.sources.syslog_frames import (
        decode_octet_frames, encode_octet_frames)

    ncpu = os.cpu_count() or 8
    spark = get_spark(app_name=f"bench_sinks_{n}",
                      shuffle_partitions=max(8, ncpu * 4),
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4040"})
    spark.catalog.clearCache()
    spark._jvm.System.gc()

    ev = spark.sql(events_sql(n))
    ev = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    ev.persist().count()
    res: dict = {"rows": n}

    rd0, wr0 = shuffle_totals()
    t0 = time.time()
    bulk = to_es_bulk(ev, ["event_id", "service", "line"],
                      logstash_format=True, ts_col="ts",
                      batch_records=500, order_col="event_id")
    tot = bulk.agg(F.sum("n_records").alias("r"),
                   F.count("*").alias("bodies")).collect()[0]
    res["es_wall_s"] = round(time.time() - t0, 2)
    rd1, wr1 = shuffle_totals()
    res["es_shuffle_write_mb"] = round((wr1 - wr0) / 1e6, 1)
    res["es_conserved"] = int(tot["r"]) == n
    res["es_bodies"] = int(tot["bodies"])

    t0 = time.time()
    loki = to_loki_push(ev, ["service", "day"], "line", "ts",
                        order_col="event_id")
    tot = loki.agg(F.sum("n_values").alias("v"),
                   F.count("*").alias("streams")).collect()[0]
    res["loki_wall_s"] = round(time.time() - t0, 2)
    rd2, wr2 = shuffle_totals()
    res["loki_shuffle_write_mb"] = round((wr2 - wr1) / 1e6, 1)
    res["loki_conserved"] = int(tot["v"]) == n
    res["loki_streams"] = int(tot["streams"])

    t0 = time.time()
    conns = max(64, n * N_CONNS_PER_M // 1_000_000)
    framed = encode_octet_frames(
        ev.withColumn("conn", F.pmod(F.xxhash64("event_id"), F.lit(conns))),
        "line", group_col="conn", order_col="event_id")
    dec = decode_octet_frames(framed, "stream")
    tot = dec.agg(F.count("*").alias("f"),
                  F.sum(F.col("frame_ok").cast("long")).alias("ok")
                  ).collect()[0]
    res["frame_wall_s"] = round(time.time() - t0, 2)
    rd3, wr3 = shuffle_totals()
    res["frame_shuffle_write_mb"] = round((wr3 - wr2) / 1e6, 1)
    res["frame_conserved"] = (int(tot["f"]) == n
                              and int(tot["ok"]) == n)
    res["frame_conns"] = conns

    # kafka RecordBatch v2: per-task fold (ZERO shuffle — the 100 TB
    # posture: batches are producer-flush units) → CRC-verified decode
    from fluent_bit_spark.sources.kafka_batches import (
        decode_kafka_binary, pack_record_batches)
    t0 = time.time()
    batches = pack_record_batches(
        ev, topic_col="service", ts_col="ts",
        key_col="event_id", value_col="line")
    kdec = decode_kafka_binary(batches, "batch", passthrough=["topic"])
    tot = kdec.agg(F.count("*").alias("r"),
                   F.sum(F.col("crc_ok").cast("long")).alias("ok")
                   ).collect()[0]
    res["kafka_wall_s"] = round(time.time() - t0, 2)
    rd4, wr4 = shuffle_totals()
    res["kafka_shuffle_write_mb"] = round((wr4 - wr3) / 1e6, 1)
    res["kafka_conserved"] = (int(tot["r"]) == n
                              and int(tot["ok"]) == n)

    # journal export: one exchange keyed by the capture id (bounded
    # streams like framing) → binary-safe Arrow walk back out
    from fluent_bit_spark.sources.journal_export import (
        decode_export, encode_export)
    t0 = time.time()
    jsrc = ev.select(
        F.pmod(F.xxhash64("event_id"), F.lit(conns)).alias("cap"),
        F.col("event_id"),
        F.col("line").alias("MESSAGE"),
        F.concat(F.col("service"), F.lit(".service"))
        .alias("_SYSTEMD_UNIT"),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("string")
        .alias("__REALTIME_TIMESTAMP"))
    jstreams = encode_export(
        jsrc, ["MESSAGE", "_SYSTEMD_UNIT", "__REALTIME_TIMESTAMP"],
        group_col="cap", order_col="event_id")
    jdec = decode_export(jstreams, "stream")
    tot = jdec.agg(F.count("*").alias("e"),
                   F.sum(F.col("entry_ok").cast("long")).alias("ok")
                   ).collect()[0]
    res["journal_wall_s"] = round(time.time() - t0, 2)
    rd5, wr5 = shuffle_totals()
    res["journal_shuffle_write_mb"] = round((wr5 - wr4) / 1e6, 1)
    res["journal_conserved"] = (int(tot["e"]) == n
                                and int(tot["ok"]) == n)

    ev.unpersist()
    spark.stop()
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1600000,16000000")
    ap.add_argument("--md")
    ap.add_argument("--gate", action="store_true")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    results = []
    for n in sizes:
        r = run_size(n)
        print(json.dumps(r))
        if not (r["es_conserved"] and r["loki_conserved"]
                and r["frame_conserved"] and r["kafka_conserved"]
                and r["journal_conserved"]):
            print(json.dumps({"gate": "FAIL", "why": "conservation",
                              "at": n}))
            return 2
        results.append(r)

    gate_line = None
    if len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["rows"] / a["rows"]
        worst = max(
            (b[k] / max(a[k], 0.1), k)
            for k in ("es_shuffle_write_mb", "loki_shuffle_write_mb",
                      "frame_shuffle_write_mb",
                      "kafka_shuffle_write_mb",
                      "journal_shuffle_write_mb"))
        gate_line = {"rows_x": ratio,
                     "worst_shuffle_x": round(worst[0], 2),
                     "worst_key": worst[1]}
        if args.gate and worst[0] > ratio * 1.3:
            print(json.dumps({"gate": "FAIL",
                              "why": "super-linear shuffle write",
                              **gate_line}))
            return 3
        print(json.dumps({"gate": "ok", **gate_line}))

    if args.md and len(results) >= 2:
        a, b = results[-2], results[-1]
        ratio = b["rows"] / a["rows"]
        lines = [
            "", f"## Sink-codec volume run {time.strftime('%Y-%m-%d')}"
            f" (sizes {args.sizes}; {N_SERVICES} services × {N_DAYS} "
            "days; logstash daily indexes; per-conn framing)", "",
            "| rows | es s / shufMB / bodies | loki s / shufMB / "
            "streams | frame s / shufMB / conns | kafka s / shufMB | "
            "journal s / shufMB | conserved |",
            "|" + "---|" * 7]
        for r in results:
            lines.append(
                f"| {r['rows']:,} | {r['es_wall_s']} / "
                f"{r['es_shuffle_write_mb']} / {r['es_bodies']:,} | "
                f"{r['loki_wall_s']} / {r['loki_shuffle_write_mb']} / "
                f"{r['loki_streams']:,} | {r['frame_wall_s']} / "
                f"{r['frame_shuffle_write_mb']} / {r['frame_conns']:,} "
                f"| {r['kafka_wall_s']} / {r['kafka_shuffle_write_mb']} "
                f"| {r['journal_wall_s']} / "
                f"{r['journal_shuffle_write_mb']} "
                f"| {r['es_conserved'] and r['loki_conserved'] and r['frame_conserved'] and r['kafka_conserved'] and r['journal_conserved']} |")
        lines += [
            "", f"{ratio:.0f}× rows → worst shuffle-write growth "
            f"{gate_line['worst_shuffle_x']}× ({gate_line['worst_key']}); "
            "record/value/frame conservation EXACT at both sizes. "
            "Per-stream loki value strings stay bounded by the "
            "(service × calendar-day) label contract "
            f"({b['loki_streams']} streams at BOTH sizes — stream "
            "count is a label-space property, independent of corpus "
            "size).", ""]
        with open(args.md, "a") as f:
            f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
