"""OTLP/JSON logs file source (sources/otlp.py): envelope flattening,
AnyValue coalescing, attribute maps, explicit-schema read."""

from __future__ import annotations

import json


def _envelope(records, service="svc1", scope="app"):
    return {"resourceLogs": [{
        "resource": {"attributes": [
            {"key": "service.name", "value": {"stringValue": service}},
            {"key": "host", "value": {"intValue": "7"}}]},
        "scopeLogs": [{"scope": {"name": scope}, "logRecords": records}],
    }]}


def test_read_otlp_logs_file(spark, tmp_path):
    from fluent_bit_spark.sources.otlp import read_otlp_logs
    recs1 = [
        {"timeUnixNano": "1700000000000000000", "severityNumber": 9,
         "severityText": "INFO", "body": {"stringValue": "hello"},
         "attributes": [{"key": "user",
                         "value": {"intValue": "42"}},
                        {"key": "ratio",
                         "value": {"doubleValue": 0.25}},
                        {"key": "ok",
                         "value": {"boolValue": True}}],
         "traceId": "aa" * 16, "spanId": "bb" * 8},
        {"timeUnixNano": "1700000001000000000", "severityNumber": 17,
         "severityText": "ERROR", "body": {"intValue": "500"}},
    ]
    p = tmp_path / "logs.json"
    lines = [json.dumps(_envelope(recs1)),
             json.dumps(_envelope(
                 [{"timeUnixNano": "1700000002000000000",
                   "severityNumber": 5, "severityText": "DEBUG",
                   "body": {"boolValue": False}}], service="svc2"))]
    p.write_text("\n".join(lines) + "\n")
    out = read_otlp_logs(spark, str(p))
    rows = {r.ts_unix_nano: r for r in out.collect()}
    assert len(rows) == 3
    a = rows[1700000000000000000]
    assert (a.severity_text, a.body) == ("INFO", "hello")
    assert a.resource == {"service.name": "svc1", "host": "7"}
    assert a.attributes == {"user": "42", "ratio": "0.25", "ok": "true"}
    assert a.trace_id == "aa" * 16 and a.span_id == "bb" * 8
    # AnyValue coalescing: int body renders as its string; missing
    # attributes flatten to an empty map, not null explosion
    b = rows[1700000001000000000]
    assert b.body == "500" and b.attributes == {}
    c = rows[1700000002000000000]
    assert c.body == "false" and c.resource["service.name"] == "svc2"


def test_otlp_read_plan_is_map_only(spark, tmp_path):
    """Explicit schema (no inference job) and no shuffle: the flatten
    is generator explodes + projections only."""
    from fluent_bit_spark.sources.otlp import read_otlp_logs
    p = tmp_path / "l.json"
    p.write_text(json.dumps(_envelope(
        [{"timeUnixNano": "1", "severityNumber": 1,
          "severityText": "T", "body": {"stringValue": "x"}}])) + "\n")
    out = read_otlp_logs(spark, str(p))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode chain
