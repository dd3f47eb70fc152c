"""OTLP/JSON logs file source (batch subset of in_opentelemetry).

The reference accepts OTLP over HTTP/gRPC (upstream:
plugins/in_opentelemetry — protocol connectors are SURVEY-scoped out);
the batch-meaningful subset is the OTLP *file* encoding: newline-
delimited ``LogsData`` JSON (the shape ``otlp/file`` exporters and
collector file sinks write). This reader flattens the envelope —
``resourceLogs[] → scopeLogs[] → logRecords[]`` — into one row per log
record with typed columns and the resource/record attribute maps, ready
for the pipeline's parse→enrich→route stages.

OTLP ``AnyValue`` attributes ({key, value:{stringValue|intValue|
doubleValue|boolValue}}) flatten to ``map<string,string>`` with the
first present variant rendered as text — the same lossy-but-total
posture fluent-bit's record accessor applies to mixed-type metadata.

Scale shape: ``spark.read.json`` with an EXPLICIT schema (no sampling
pass over 100 TB), then three generator explodes and map-only column
extraction — no shuffle anywhere; Catalyst prunes unused envelope
branches at the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Explicit OTLP LogsData schema (logs.proto, JSON mapping): int64
# fields ride as strings in OTLP/JSON (timeUnixNano), enums as ints.
_ANYVALUE = ("struct<stringValue:string,intValue:string,"
             "doubleValue:double,boolValue:boolean>")
_ATTRS = f"array<struct<key:string,value:{_ANYVALUE}>>"
_LOG_RECORD = (f"struct<timeUnixNano:string,observedTimeUnixNano:string,"
               f"severityNumber:int,severityText:string,"
               f"body:{_ANYVALUE},attributes:{_ATTRS},"
               f"traceId:string,spanId:string>")
OTLP_LOGS_SCHEMA = (
    f"resourceLogs array<struct<"
    f"resource:struct<attributes:{_ATTRS}>,"
    f"scopeLogs:array<struct<"
    f"scope:struct<name:string,version:string>,"
    f"logRecords:array<{_LOG_RECORD}>>>>>")


def attrs_to_map(attrs: Column) -> Column:
    """OTLP attribute list → map<string,string> (first present
    AnyValue variant, rendered as text). A record with no attributes
    yields an EMPTY map, not null — ``map['k']`` stays total."""
    attrs = F.coalesce(attrs, F.expr(f"CAST(array() AS {_ATTRS})"))
    return F.map_from_entries(F.transform(
        attrs,
        lambda a: F.struct(
            a["key"].alias("key"),
            F.coalesce(
                a["value"]["stringValue"],
                a["value"]["intValue"],
                a["value"]["doubleValue"].cast("string"),
                a["value"]["boolValue"].cast("string"),
            ).alias("value"))))


def flatten_otlp_logs(df: DataFrame, envelope_col: str = "resourceLogs"
                      ) -> DataFrame:
    """LogsData envelope → one row per log record:
    (ts, observed_ts, severity_number, severity_text, body, trace_id,
    span_id, scope_name, resource map<string,string>,
    attributes map<string,string>). Timestamps are epoch-nano strings
    cast to bigint (OTLP/JSON int64 mapping)."""
    rl = df.select(F.explode(envelope_col).alias("rl"))
    sl = rl.select(
        attrs_to_map(F.col("rl.resource.attributes")).alias("resource"),
        F.explode("rl.scopeLogs").alias("sl"))
    lr = sl.select(
        "resource",
        F.col("sl.scope.name").alias("scope_name"),
        F.explode("sl.logRecords").alias("r"))
    return lr.select(
        F.col("r.timeUnixNano").cast("bigint").alias("ts_unix_nano"),
        F.col("r.observedTimeUnixNano").cast("bigint")
         .alias("observed_unix_nano"),
        F.col("r.severityNumber").alias("severity_number"),
        F.col("r.severityText").alias("severity_text"),
        F.coalesce(
            F.col("r.body.stringValue"),
            F.col("r.body.intValue"),
            F.col("r.body.doubleValue").cast("string"),
            F.col("r.body.boolValue").cast("string")).alias("body"),
        F.col("r.traceId").alias("trace_id"),
        F.col("r.spanId").alias("span_id"),
        "scope_name", "resource",
        attrs_to_map(F.col("r.attributes")).alias("attributes"))


def read_otlp_logs(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited OTLP/JSON ``LogsData`` files into the
    flattened log-record frame. The explicit schema skips Spark's
    sampling inference pass (a second full scan at 100 TB)."""
    return flatten_otlp_logs(spark.read.schema(OTLP_LOGS_SCHEMA)
                             .json(path))


def parse_otlp_column(df: DataFrame, col: str) -> DataFrame:
    """Parse a STRING column carrying a LogsData JSON document (e.g. a
    log line that is itself an OTLP export) and flatten — the
    from_json twin of ``read_otlp_logs`` for already-loaded frames.
    Other columns are preserved (one output row per log record)."""
    others = [c for c in df.columns if c != col]
    parsed = df.withColumn(
        "__otlp", F.from_json(F.col(col), OTLP_LOGS_SCHEMA))
    rl = parsed.select(*others, F.explode("__otlp.resourceLogs")
                       .alias("rl"))
    sl = rl.select(
        *others,
        attrs_to_map(F.col("rl.resource.attributes")).alias("resource"),
        F.explode("rl.scopeLogs").alias("sl"))
    lr = sl.select(
        *others, "resource",
        F.col("sl.scope.name").alias("scope_name"),
        F.explode("sl.logRecords").alias("r"))
    return lr.select(
        *others,
        F.col("r.timeUnixNano").cast("bigint").alias("ts_unix_nano"),
        F.col("r.severityNumber").alias("severity_number"),
        F.col("r.severityText").alias("severity_text"),
        F.coalesce(
            F.col("r.body.stringValue"),
            F.col("r.body.intValue"),
            F.col("r.body.doubleValue").cast("string"),
            F.col("r.body.boolValue").cast("string")).alias("body"),
        F.col("r.traceId").alias("trace_id"),
        F.col("r.spanId").alias("span_id"),
        "scope_name", "resource",
        attrs_to_map(F.col("r.attributes")).alias("attributes"))
