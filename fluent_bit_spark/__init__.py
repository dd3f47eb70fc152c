"""fluent_bit_spark — a PySpark-native log/telemetry pipeline engine.

A from-scratch reimplementation of the query and data-processing
capabilities of fluent-bit (parse → filter/enrich → tag-route → output →
aggregate) as idiomatic Spark DataFrame plans over Iceberg/Parquet tables
of pre-tokenized training sequences (``doc_id, tokens:array<int32>,
n_tok:int32, source:string``).

This is NOT a port: fluent-bit is a row-at-a-time streaming C engine with
no optimizer; this engine declares each pipeline as one lazy Catalyst plan
(predicate pushdown, column pruning, whole-stage codegen, AQE) and keeps
Python on the vectorized Arrow path only (the parse stage is one
``arrow_udf``; decoders and user parsers use ``mapInArrow`` / pandas
UDFs — never per-row Python UDFs).

Blueprint: SURVEY.md. Contract: BASELINE.json (north_rule / input_hint).
"""

__version__ = "0.1.0"


def sql(spark, text, tagged=None, ts_col="event_ts", **streams):
    """Convenience entry for the stream-processor SQL dialect
    (SURVEY.md §3.4 entry point 2): ``sql(spark, "SELECT ... FROM
    STREAM:logs ...", logs=df)``. See plans/sql_shim.py."""
    from .plans.sql_shim import StreamProcessor
    sp = StreamProcessor(spark, tagged=tagged, ts_col=ts_col)
    for name, df in streams.items():
        sp.register_stream(name, df)
    return sp.sql(text)
