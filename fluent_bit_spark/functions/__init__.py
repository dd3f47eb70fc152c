"""Vectorized scalar-function layer (SURVEY.md §2.2, §2.8).

Everything here is either a native pyspark.sql.functions composition
(JVM-side, codegen) or an Arrow-batched UDF — the pipeline's parse is
one ``arrow_udf`` over pyarrow arrays, the user regex / logfmt parsers
pandas UDFs — never row-at-a-time Python (BASELINE.json input_hint:
"no per-row Python").
"""
