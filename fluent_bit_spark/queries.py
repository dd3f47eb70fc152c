"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each over the driver testdata tables with a DuckDB
oracle (ORACLE_SQL). Column names are aliased identically on both sides
(the driver's compare hashes values after sorting columns by name).

Conventions:
- integer aggregates exact; double aggregates ROUND(…, 2..6) on BOTH
  sides (float summation order differs between engines);
- DuckDB sum(BIGINT) returns HUGEINT → oracle casts to BIGINT;
- no nondeterministic functions (uuid, now) in any compared output.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.parsers import ltsv_parser, logfmt_parser
from .operators.aggregate import (
    hopping, log_histogram, salted_sink_aggregates, tumbling,
)
from .operators.enrich import checklist_keep, lookup_join
from .operators.filters import GrepRule, grep
from .operators.modify import ModifyRule, ModifySpec, apply_modify
from .operators.nest import lift, nest
from .operators.router import Route, with_routes
from .operators.throttle import throttle


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            # a silent overwrite would shadow an oracled query (and its
            # driver-window slot) — fail at import time instead
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


# ===========================================================================
# Flagship: tag-route + per-sink aggregates (SURVEY §2.5, §2.6)
# ===========================================================================

DOC_ROUTES = [
    Route("sink_en", "app.*.en"),
    Route("sink_src1", "app.src1*"),
    Route("sink_intl", "app.*.zh"),
    Route("sink_intl", "app.*.es"),
    Route("sink_all", "*"),
]


@q("route_agg", """
WITH tagged AS (
  SELECT *, 'app.' || source || '.' || lang AS tag FROM documents),
routed AS (
  SELECT 'sink_en' AS sink, * FROM tagged WHERE tag LIKE 'app.%.en'
  UNION ALL
  SELECT 'sink_src1', * FROM tagged WHERE tag LIKE 'app.src1%'
  UNION ALL
  SELECT 'sink_intl', * FROM tagged
    WHERE tag LIKE 'app.%.zh' OR tag LIKE 'app.%.es'
  UNION ALL
  SELECT 'sink_all', * FROM tagged)
SELECT sink,
       count(*) AS records,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       count(DISTINCT source) AS distinct_sources
FROM routed GROUP BY sink
""")
def route_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse→tag→route→per-sink aggregate, the north-star query shape."""
    docs = t(spark, sf_dir, "documents").withColumn(
        "tag", F.concat(F.lit("app."), "source", F.lit("."), "lang"))
    routed = with_routes(docs, DOC_ROUTES)
    return (routed.select(F.explode("sinks").alias("sink"),
                          "n_chars", "source")
            .groupBy("sink")
            .agg(F.count("*").alias("records"),
                 F.sum("n_chars").alias("sum_n_chars"),
                 F.count_distinct("source").alias("distinct_sources")))


# ===========================================================================
# Parsers (§2.2) over events.props / constructed lines
# ===========================================================================


@q("parse_json_props", """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k
FROM events GROUP BY event_type
""")
def parse_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k bigint"))
    return (parsed.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("p.k").alias("sum_k")))


@q("ltsv_parse", """
WITH lines AS (
  SELECT 'host:h' || CAST(user_id % 10 AS VARCHAR)
         || chr(9) || 'level:' || event_type AS raw FROM events),
parsed AS (
  SELECT regexp_extract(raw, 'host:([^\t]*)', 1) AS host,
         regexp_extract(raw, 'level:([^\t]*)', 1) AS level FROM lines)
SELECT host, level, count(*) AS n FROM parsed GROUP BY host, level
""")
def ltsv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn(
        "raw", F.concat(F.lit("host:h"), F.col("user_id") % 10,
                        F.lit("\t"), F.lit("level:"), "event_type"))
    m = ev.withColumn("m", ltsv_parser("raw"))
    return (m.select(F.col("m")["host"].alias("host"),
                     F.col("m")["level"].alias("level"))
             .groupBy("host", "level").agg(F.count("*").alias("n")))


@q("logfmt_parse", """
WITH lines AS (
  SELECT 'level=' || event_type || ' code=' ||
         CAST(CAST(floor(value) AS BIGINT) % 100 AS VARCHAR) AS raw
  FROM events),
parsed AS (
  SELECT regexp_extract(raw, 'level=(\\S+)', 1) AS level,
         CAST(regexp_extract(raw, 'code=(\\d+)', 1) AS BIGINT) AS code
  FROM lines)
SELECT level, count(*) AS n, CAST(sum(code) AS BIGINT) AS sum_code
FROM parsed GROUP BY level
""")
def logfmt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn(
        "raw", F.concat(F.lit("level="), "event_type", F.lit(" code="),
                        (F.floor("value").cast("bigint") % 100)))
    m = ev.withColumn("m", logfmt_parser("raw"))
    return (m.select(F.col("m")["level"].alias("level"),
                     F.col("m")["code"].cast("bigint").alias("code"))
             .groupBy("level")
             .agg(F.count("*").alias("n"), F.sum("code").alias("sum_code")))


@q("decoder_escaped", r"""
SELECT event_id,
       json_extract_string(
         '"' || regexp_replace(
             event_type || '\tid=\u0041-' || CAST(event_id AS VARCHAR)
             || '\x21\nend',
             '\\x([0-9a-fA-F]{2})', '\\u00\1', 'g') || '"',
         '$') AS line
FROM events
""")
def decoder_escaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parser decoders (functions/parsers.py decode_escaped_utf8 ←
    upstream:src/flb_parser_decoder.c Decode_Field_As escaped_utf8):
    \\t/\\n/\\uXXXX/\\xNN escape payloads unescaped JVM-side, checked
    value-exactly against DuckDB's JSON string decoder."""
    from .functions.parsers import decoder_chain
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.concat("event_type", F.lit(r"\tid=\u0041-"),
                 F.col("event_id").cast("string"),
                 F.lit("\\x21\\nend")).alias("line"))
    return decoder_chain(ev, "line", ["escaped_utf8"])


@q("decoder_json_chain", r"""
SELECT event_id,
       json_extract_string(
         json_extract_string('"' || '{\"k\": ' || CAST(event_id AS VARCHAR)
                             || ', \"t\": \"' || event_type || '\"}' || '"',
                             '$'),
         '$.k') AS k,
       json_extract_string(
         json_extract_string('"' || '{\"k\": ' || CAST(event_id AS VARCHAR)
                             || ', \"t\": \"' || event_type || '\"}' || '"',
                             '$'),
         '$.t') AS t
FROM events
""")
def decoder_json_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """do_next decoder chain (escaped → json), the common upstream
    config: unescape the payload, then lift it as JSON and read keys."""
    from .functions.parsers import decoder_chain
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(F.lit(r'{\"k\": '), F.col("event_id").cast("string"),
                 F.lit(r', \"t\": \"'), "event_type",
                 F.lit(r'\"}')).alias("line"))
    out = decoder_chain(ev, "line", ["escaped", "json"], json_out="j")
    return out.select("event_id", F.col("j")["k"].alias("k"),
                      F.col("j")["t"].alias("t"))


# ===========================================================================
# Filters (§2.3)
# ===========================================================================


@q("grep_filter", """
SELECT source, count(*) AS n FROM documents
WHERE regexp_matches(text, 'spark') AND NOT regexp_matches(text, 'slow')
GROUP BY source
""")
def grep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    out = grep(docs, [GrepRule("text", "spark"),
                      GrepRule("text", "slow", exclude=True)], "AND")
    return out.groupBy("source").agg(F.count("*").alias("n"))


@q("grep_or", """
SELECT lang, count(*) AS n FROM documents
WHERE regexp_matches(text, 'vector') OR regexp_matches(text, 'stream')
GROUP BY lang
""")
def grep_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    out = grep(docs, [GrepRule("text", "vector"),
                      GrepRule("text", "stream")], "OR")
    return out.groupBy("lang").agg(F.count("*").alias("n"))


@q("modify_rules", """
SELECT doc_id, lang AS language, source, source AS src_copy,
       'v1' AS pipeline FROM documents WHERE lang = 'en'
""")
def modify_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    spec = ModifySpec(rules=[
        ModifyRule("rename", "lang", "language"),
        ModifyRule("copy", "source", "src_copy"),
        ModifyRule("set", "pipeline", "v1"),
        ModifyRule("remove", "n_chars"),
        ModifyRule("remove", "text"),
    ])
    return apply_modify(docs, spec)


@q("nest_lift", """
SELECT doc_id, lang, source, n_chars FROM documents
""")
def nest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nest + lift round-trip returns the original projection."""
    docs = t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "source", "n_chars")
    nested = nest(docs, "lang", "meta")
    nested = nest(nested, "source", "meta2")
    out = lift(lift(nested, "meta"), "meta2")
    return out.select("doc_id", "lang", "source", "n_chars")


@q("type_converter", """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
         AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
""")
def type_converter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.filters import type_convert
    ev = t(spark, sf_dir, "events").withColumn(
        "k_str", F.get_json_object("props", "$.k"))
    out = type_convert(ev, [("k_str", "k_int", "int")])
    return (out.groupBy("event_type")
            .agg(F.round(F.avg("k_int"), 4).alias("avg_k"),
                 F.count("*").alias("n")))


@q("throttle_topn", """
WITH ranked AS (
  SELECT event_type,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('day', ts)
           ORDER BY ts, event_id) AS rn
  FROM events)
SELECT event_type, count(*) AS n FROM ranked WHERE rn <= 3
GROUP BY event_type
""")
def throttle_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = throttle(ev, rate=3, keys=["event_type"], ts_col="ts",
                   interval="1 day", tiebreak=["event_id"])
    return out.groupBy("event_type").agg(F.count("*").alias("n"))


# ===========================================================================
# Enrichment joins (§2.4)
# ===========================================================================


@q("enrich_lookup", """
SELECT r_name AS region, count(*) AS customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    e1 = lookup_join(cust, nation, "c_nationkey", "n_nationkey",
                     ["n_name", "n_regionkey"])
    e2 = lookup_join(e1, region, "n_regionkey", "r_regionkey", ["r_name"])
    return (e2.groupBy(F.col("r_name").alias("region"))
            .agg(F.count("*").alias("customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal")))


@q("enrich_cached_dim", """
SELECT n_name AS nation, count(*) AS events,
       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_val
FROM events
LEFT JOIN nation ON user_id % 25 = n_nationkey
GROUP BY n_name
""")
def enrich_cached_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_kubernetes-shaped cached-dim enrichment
    (operators/enrich.py DimCache + enrich_cached ←
    upstream:plugins/filter_kubernetes/kube_meta.c's TTL metadata
    cache): the dim snapshot resolves through the cache (pinned
    localCheckpoint, TTL-refreshed) and joins broadcast-left like
    filter_lookup. The oracle is the plain join — the cache is a
    LIFECYCLE wrapper and must be value-invisible; TTL/refresh
    behavior is pinned by tests/test_enrich_agg.py and the streaming
    parity test."""
    from .operators.enrich import DimCache, enrich_cached
    ev = t(spark, sf_dir, "events").withColumn(
        "nkey", (F.col("user_id") % 25).cast("int"))
    cache = DimCache(f"{sf_dir}/nation.parquet", ttl_seconds=300.0)
    out = enrich_cached(ev, cache, "nkey", "n_nationkey", ["n_name"])
    return (out.groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("events"),
                 F.sum(F.floor("value").cast("long")).alias("sum_val")))


@q("checklist_semi", """
SELECT l_returnflag, count(*) AS n FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey
              AND o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
""")
def checklist_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem") \
        .withColumnRenamed("l_orderkey", "okey")
    urgent = t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderpriority") == "1-URGENT") \
        .select(F.col("o_orderkey").alias("okey"))
    kept = checklist_keep(li, urgent, "okey")
    return kept.groupBy("l_returnflag").agg(F.count("*").alias("n"))


@q("checklist_anti", """
SELECT c_mktsegment, count(*) AS n FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""")
def checklist_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent order (non-empty at every test SF —
    a 0-row result would make the oracle hash-match vacuous)."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderpriority") == "1-URGENT") \
        .select(F.col("o_custkey").alias("c_custkey"))
    out = cust.join(F.broadcast(urgent.distinct()), "c_custkey",
                    "left_anti")
    return out.groupBy("c_mktsegment").agg(F.count("*").alias("n"))


# ===========================================================================
# Routing extras (§2.5)
# ===========================================================================


@q("geoip_range_lookup", """
WITH f AS (SELECT event_id,
                  (CAST(event_id AS BIGINT) * 2654435761) % 1703936 AS ip
           FROM events),
r AS (SELECT CAST(n_nationkey AS BIGINT) * 65536 AS r_start,
             CAST(n_nationkey AS BIGINT) * 65536
               + (n_nationkey % 4 + 1) * 16384 - 1 AS r_end,
             n_name FROM nation)
SELECT coalesce(n_name, '__miss__') AS country,
       count(*) AS n, CAST(sum(ip) AS BIGINT) AS sum_ip
FROM f LEFT JOIN r ON f.ip BETWEEN r.r_start AND r.r_end
GROUP BY 1
""")
def geoip_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoip2-style range lookup (operators/enrich.py range_lookup ←
    upstream:plugins/filter_geoip2): synthetic CIDR-ish blocks from the
    nation table, facts hashed into the address space; the bucketed
    equi-join (+ residual range filter) is value-checked against
    DuckDB's non-equi BETWEEN join. bucket_bits=14 < block alignment,
    so ranges genuinely explode into multiple buckets."""
    from .operators.enrich import range_lookup
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id").cast("bigint") * 2654435761) % 1703936)
        .alias("ip"))
    ranges = t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey").cast("bigint") * 65536).alias("r_start"),
        (F.col("n_nationkey").cast("bigint") * 65536
         + (F.col("n_nationkey") % 4 + 1) * 16384 - 1).alias("r_end"),
        "n_name")
    out = range_lookup(ev, "ip", ranges, "r_start", "r_end", ["n_name"],
                       bucket_bits=14)
    return (out.groupBy(F.coalesce("n_name", F.lit("__miss__"))
                        .alias("country"))
            .agg(F.count("*").alias("n"), F.sum("ip").alias("sum_ip")))


@q("serialize_prometheus", """
SELECT 'records_total{source="' || source || '",lang="' || lang || '"} '
       || CAST(count(*) AS VARCHAR) AS value
FROM documents GROUP BY source, lang
""")
def serialize_prometheus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus exposition rendering of per-(source, lang) counts
    (functions/serialize.py to_prometheus ← upstream cmetrics prom
    encoder), byte-exact vs a DuckDB string build."""
    from .functions.serialize import to_prometheus
    docs = t(spark, sf_dir, "documents")
    agg = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    return to_prometheus(agg, "records_total", "n",
                         ["source", "lang"]).select("value")


@q("skew_salted_join", """
WITH ev AS (SELECT event_id, user_id, user_id % 7 AS k FROM events),
d AS (SELECT DISTINCT doc_id % 7 AS k, lang FROM documents)
SELECT lang, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_uid
FROM ev JOIN d USING (k) GROUP BY lang
""")
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew-salted equi-join (operators/enrich.py salted_join):
    heavy-hitter fact keys spread over deterministic salt buckets, dim
    replicated per bucket; per-key results identical to the plain join
    (which IS the oracle)."""
    from .operators.enrich import salted_join
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", (F.col("user_id") % 7).alias("k"))
    dim = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 7).alias("k"), "lang").distinct()
    out = salted_join(ev, dim, "k", salt_buckets=8)
    return (out.groupBy("lang")
            .agg(F.count("*").alias("n"),
                 F.sum("user_id").alias("sum_uid")))


@q("rewrite_tag_capture", """
WITH tagged AS (
  SELECT CASE WHEN lang IN ('zh', 'es')
              THEN 'intl.' || lang || '.' ||
                   regexp_replace(source, 'src(\\d+)', 'node\\1')
              ELSE 'app.' || source END AS tag
  FROM documents)
SELECT tag, count(*) AS n FROM tagged GROUP BY tag
""")
def rewrite_tag_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.router import RewriteTagRule, apply_rewrite_tag
    docs = t(spark, sf_dir, "documents").withColumn(
        "tag", F.concat(F.lit("app."), "source"))
    # template vars come from columns, so precompute the node name
    docs = docs.withColumn(
        "node", F.regexp_replace("source", r"src(\d+)", r"node$1"))
    rules = [RewriteTagRule(key="lang", pattern="^(zh|es)$",
                            new_tag="intl.$1.$node", keep=False)]
    out = apply_rewrite_tag(docs, rules)
    return out.groupBy("tag").agg(F.count("*").alias("n"))


# ===========================================================================
# Windows & aggregation (§2.6, §2.7)
# ===========================================================================


@q("salted_agg", """
SELECT source, count(*) AS records,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_tok,
       count(DISTINCT lang) AS distinct_sources
FROM documents GROUP BY source
""")
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return salted_sink_aggregates(docs, ["source"], n_tok_col="n_chars",
                                  source_col="lang",
                                  salt_seed_col="doc_id", salt_buckets=16)


@q("tumbling_agg", """
SELECT date_trunc('hour', ts) AS win_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_v
FROM events GROUP BY 1, 2
""")
def tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = tumbling(ev, "ts", "1 hour", ["event_type"]).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))
    return out.select(F.col("win.start").alias("win_start"), "event_type",
                      "n", "sum_v")


@q("hopping_agg", """
WITH assigned AS (
  SELECT date_trunc('hour', ts) AS win_start, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, value FROM events)
SELECT win_start, count(*) AS n, round(sum(value), 2) AS sum_v
FROM assigned GROUP BY win_start
""")
def hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = hopping(ev, "ts", "2 hours", "1 hour").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))
    return out.select(F.col("win.start").alias("win_start"), "n", "sum_v")


@q("session_windows", """
WITH g AS (
  SELECT user_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 1 HOUR OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
       count(*) AS n_users
FROM (SELECT user_id, sum(new_session) AS n_sessions FROM g
      GROUP BY user_id)
GROUP BY n_sessions
""")
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (absent upstream, native in Spark): distribution of
    per-user session counts with a 1h inactivity gap."""
    from .operators.aggregate import session
    ev = t(spark, sf_dir, "events")
    per_user = session(ev, "ts", "1 hour", ["user_id"]) \
        .agg(F.count("*").alias("events_in_session"))
    counts = per_user.groupBy("user_id") \
        .agg(F.count("*").alias("n_sessions"))
    return counts.groupBy("n_sessions").agg(F.count("*").alias("n_users"))


@q("log_histogram", """
SELECT event_type,
       CAST(CASE WHEN value < 0 THEN -1
                 WHEN value >= 500 THEN 10
                 ELSE floor(value / 50.0) END AS INT) AS bucket,
       count(*) AS n
FROM events GROUP BY 1, 2
""")
def log_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return log_histogram(ev, ["event_type"], "value", 0.0, 500.0, 10)


@q("log_hist_explicit", """
WITH b AS (SELECT event_type,
                  CASE WHEN value <= 10 THEN 0
                       WHEN value <= 100 THEN 1
                       WHEN value <= 250 THEN 2
                       ELSE 3 END AS bi
           FROM events),
c AS (SELECT event_type, bi, count(*) AS cnt FROM b GROUP BY 1, 2),
les AS (SELECT * FROM (VALUES (0, '10.0'), (1, '100.0'),
                              (2, '250.0'), (3, '+Inf')) t(bi, le)),
grid AS (SELECT DISTINCT event_type FROM b),
g2 AS (SELECT event_type, bi, le FROM grid CROSS JOIN les)
SELECT event_type, le,
       CAST(sum(coalesce(cnt, 0)) OVER (PARTITION BY event_type
                                        ORDER BY g2.bi) AS BIGINT) AS n
FROM g2 LEFT JOIN c USING (event_type, bi)
""")
def log_hist_explicit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``[FILTER] log_to_metrics`` explicit-boundary histogram
    (operators/aggregate.log_histogram_bounds ← the repeatable
    ``bucket`` property of upstream:plugins/filter_log_to_metrics):
    Prometheus cumulative ``le`` rows per label, densified so every
    boundary appears even at count 0. The oracle rebuilds bucket
    assignment, densification, and cumulation independently."""
    from .operators.aggregate import log_to_metrics
    ev = t(spark, sf_dir, "events")
    return log_to_metrics(ev, "histogram", ["event_type"],
                          value_field="value",
                          buckets=[10, 100, 250])


@q("forecast_linear", """
SELECT event_type,
       round(regr_slope(value, epoch_of(ts)), 8) AS slope,
       round(regr_intercept(value, epoch_of(ts)), 4) AS intercept
FROM (SELECT event_type, value, ts FROM events)
GROUP BY event_type
""".replace("epoch_of(ts)", "(epoch(ts) - 1704067200.0)"))
def forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_c", (F.unix_timestamp("ts") - F.lit(1704067200)).cast("double"))
    # same normal equations as operators.aggregate.timeseries_forecast,
    # with x centered at the table epoch so both engines stay stable
    out = (ev.groupBy("event_type")
             .agg(F.round(F.regr_slope(F.col("value"), F.col("ts_c")), 8)
                  .alias("slope"),
                  F.round(F.regr_intercept(F.col("value"), F.col("ts_c")), 4)
                  .alias("intercept")))
    return out


# ===========================================================================
# Classic OLAP shapes (free from Catalyst; absent upstream — §2.7 note)
# ===========================================================================


@q("agg_pushdown_q1", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def agg_pushdown_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n")))


@q("topk_per_group", """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
SELECT o_orderpriority, o_orderkey, o_totalprice FROM ranked WHERE rn <= 3
""")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_orderpriority", "o_orderkey", "o_totalprice"))


@q("set_ops_intersect", """
SELECT count(*) AS n FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase')
""")
def set_ops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys).agg(F.count("*").alias("n"))


# ===========================================================================
# Dedup (training-data extensions)
# ===========================================================================


@q("dedup_exact", """
SELECT source, count(DISTINCT md5(text)) AS distinct_docs,
       count(*) AS total_docs
FROM documents GROUP BY source
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count_distinct(F.md5("text")).alias("distinct_docs"),
                 F.count("*").alias("total_docs")))


# ===========================================================================
# Multiline joining, as-of join, rollup, SQL dialect (§2.2, §2.4, §2.7)
# ===========================================================================


@q("multiline_join", """
WITH lines AS (
  SELECT user_id, event_id,
         event_type || ':' || CAST(event_id AS VARCHAR) AS line,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS s
  FROM events),
g AS (
  SELECT *, sum(s) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) AS gid
  FROM lines)
SELECT user_id, min(event_id) AS first_event_id,
       count(*) AS n_lines,
       string_agg(line, chr(10) ORDER BY event_id) AS event,
       min(gid) > 0 AS joined
FROM g
GROUP BY user_id,
         CASE WHEN gid > 0 THEN 'g' || CAST(gid AS VARCHAR)
              ELSE 'r' || CAST(event_id AS VARCHAR) END
""")
def multiline_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flb_ml batch re-expression: per-user event streams joined into
    logical events at 'signup' start markers; pre-start lines pass
    through unjoined (operators/multiline.py)."""
    from .operators.multiline import join_multiline
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.concat_ws(":", "event_type", F.col("event_id").cast("string"))
         .alias("line"))
    return join_multiline(ev, "user_id", "event_id", "line",
                          F.col("line").startswith("signup:"))


@q("multiline_cri", """
WITH lines AS (
  SELECT user_id, event_id,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS complete,
         event_type || ':' || CAST(event_id AS VARCHAR) AS payload
  FROM events),
g AS (
  SELECT *,
         coalesce(sum(complete) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gid
  FROM lines)
SELECT user_id, min(event_id) AS first_event_id,
       count(*) AS n_lines,
       bool_or(complete = 1) AS complete,
       string_agg(payload, '' ORDER BY event_id) AS event
FROM g GROUP BY user_id, gid
""")
def multiline_cri_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRI multiline preset (operators/multiline.py multiline_cri ←
    upstream:src/multiline/flb_ml_parser_cri.c): P-fragments concatenate
    until the F line; the full parse→terminate→join chain is
    value-checked against a window-cumsum SQL reconstruction."""
    from .operators.multiline import multiline_cri
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.concat(
            F.lit("t0 stdout "),
            F.when(F.col("event_id") % 3 == 0, F.lit("F"))
             .otherwise(F.lit("P")),
            F.lit(" "), "event_type", F.lit(":"),
            F.col("event_id").cast("string")).alias("line"))
    return multiline_cri(ev, "user_id", "event_id", "line")


@q("asof_enrich", """
SELECT p.event_id, p.user_id, round(c.value, 2) AS click_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment (operators/asof.py): each purchase gets the most
    recent preceding click's value per user — the 'dimension state at
    event time' join the broadcast lookup cannot express."""
    from .operators.asof import asof_join
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", "value")
    out = asof_join(purchases, clicks, on="user_id", ts="ts",
                    value_cols=["value"])
    return out.select("event_id", "user_id",
                      F.round("value_asof", 2).alias("click_value"))


@q("rollup_agg", """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (absent upstream — §2.7 note; native here).
    At 100 TB this is one shuffle: Spark expands grouping sets map-side
    and partial-aggregates before exchange."""
    li = t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum("l_quantity").cast("double").alias("sum_qty")))


@q("sp_sql_stream_agg", """
SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_v
FROM events WHERE props IS NOT NULL AND value >= 10
GROUP BY event_type
""")
def sp_sql_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-processor SQL dialect end-to-end (plans/sql_shim.py):
    STREAM: selector + @record.contains over the events stream."""
    from .plans.sql_shim import StreamProcessor
    sp = StreamProcessor(spark, ts_col="ts")
    sp.register_stream("events", t(spark, sf_dir, "events"))
    return sp.sql(
        "SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_v "
        "FROM STREAM:events WHERE @record.contains(props) AND value >= 10 "
        "GROUP BY event_type;")


@q("sp_sql_window", """
SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n
FROM events GROUP BY 1, 2
""")
def sp_sql_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect WINDOW TUMBLING → GROUP BY window(ts, …) translation
    (upstream:src/stream_processor/flb_sp_window.c semantics)."""
    from .plans.sql_shim import StreamProcessor
    sp = StreamProcessor(spark, ts_col="ts")
    sp.register_stream("events", t(spark, sf_dir, "events"))
    return sp.sql(
        "SELECT event_type, COUNT(*) AS n FROM STREAM:events "
        "WINDOW TUMBLING (1 HOUR) GROUP BY event_type;")


@q("parse_http_json", """
WITH d AS (SELECT doc_id, source, substring(md5(text), 1, 8) AS h
           FROM documents)
SELECT 'http.0' AS tag, false AS parse_ok,
       CAST(NULL AS VARCHAR) AS log, CAST(NULL AS VARCHAR) AS rec_i
FROM d WHERE doc_id % 5 = 4
UNION ALL
SELECT 'app.' || source AS tag, true AS parse_ok, h AS log,
       CAST(doc_id AS VARCHAR) AS rec_i
FROM d WHERE doc_id % 5 IN (2, 3)
UNION ALL
SELECT 'http.0' AS tag, true AS parse_ok, reverse(h) AS log,
       CAST(doc_id AS VARCHAR) AS rec_i
FROM d WHERE doc_id % 5 IN (2, 3)
UNION ALL
SELECT 'http.0' AS tag, true AS parse_ok, h AS log,
       CAST(doc_id AS VARCHAR) AS rec_i
FROM d WHERE doc_id % 5 IN (0, 1)
""")
def parse_http_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP JSON payload source (sources/http.py ← the payload-codec
    subset of upstream:plugins/in_http): per document a POST body is
    constructed — a single record object, a two-record array batch
    (one record carrying ``tag_key``), or a malformed line — then
    decoded by the reader: variant parse, array-vs-object normalize,
    per-record explode, variant→map stringify, tag lift, and the
    tolerate-and-null DLQ row for the bad body. The oracle derives the
    expected record rows independently from the source columns, so a
    traversal, stringify, or tag-fallback bug mismatches. Map-only."""
    from .sources.http import decode_http_json
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring(F.md5("text"), 1, 8).alias("h"))
    i = F.col("doc_id").cast("string")
    single = F.concat(F.lit('{"log": "'), F.col("h"),
                      F.lit('", "i": '), i, F.lit('}'))
    batch = F.concat(
        F.lit('[{"log": "'), F.col("h"), F.lit('", "tag": "app.'),
        F.col("source"), F.lit('", "i": '), i,
        F.lit('}, {"log": "'), F.reverse(F.col("h")),
        F.lit('", "i": '), i, F.lit('}]'))
    broken = F.concat(F.lit('{broken '), F.col("h"))
    body = (F.when(F.col("doc_id") % 5 == 4, broken)
             .when((F.col("doc_id") % 5).isin(2, 3), batch)
             .otherwise(single))
    out = decode_http_json(d.select(body.alias("body")), tag_key="tag")
    return out.select(
        "tag", "parse_ok",
        F.col("record")["log"].alias("log"),
        F.col("record")["i"].alias("rec_i"))


@q("serialize_http_batch", """
WITH r AS (SELECT event_type AS tag, event_id AS id,
                  'evt ' || event_type AS msg,
                  CAST(floor(epoch(ts)) AS BIGINT) AS d,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY event_id) AS rn
           FROM events),
b AS (SELECT tag, (rn - 1) // 100 AS batch_no, rn,
             '{"date":' || d || ',"id":' || id || ',"msg":"' || msg
             || '"}' AS rec
      FROM r)
SELECT tag, CAST(batch_no AS BIGINT) AS batch_no,
       CAST(count(*) AS BIGINT) AS n_records,
       '[' || string_agg(rec, ',' ORDER BY rn) || ']' AS body
FROM b GROUP BY tag, batch_no
""")
def serialize_http_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP JSON sink bodies (sources/http.py encode_http_json ← the
    payload subset of upstream:plugins/out_http with
    upstream:src/flb_pack.c json format + json_date_key): records
    group per tag in id order, 100 per POST body, rendered as one JSON
    array with the epoch date key injected. The oracle rebuilds every
    body byte-for-byte with window + ordered string_agg — format-,
    batching-, and date-rendering-exact."""
    from .sources.http import encode_http_json
    ev = t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("tag"),
        F.concat(F.lit("evt "), F.col("event_type")).alias("msg"),
        "ts")
    return encode_http_json(
        ev, ["id", "msg"], fmt="json", batch_records=100,
        order_col="id", tag_col="tag", ts_col="ts",
        json_date_format="epoch")


@q("serialize_es_bulk", """
WITH r AS (SELECT event_id AS id, 'evt ' || event_type AS msg,
                  row_number() OVER (ORDER BY event_id) AS rn
           FROM events),
p AS (SELECT rn, (rn - 1) // 500 AS batch_no,
             '{"create":{"_index":"events","_id":"' || id || '"}}'
             || chr(10) || '{"id":' || id || ',"msg":"' || msg || '"}'
             AS pair
      FROM r)
SELECT 'events' AS index, CAST(batch_no AS BIGINT) AS batch_no,
       CAST(count(*) AS BIGINT) AS n_records,
       string_agg(pair, chr(10) ORDER BY rn) || chr(10) AS body
FROM p GROUP BY batch_no
""")
def serialize_es_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch _bulk bodies (functions/serialize.to_es_bulk ← the
    payload subset of upstream:plugins/out_es es_bulk.c): action line +
    source line pairs, Id_Key lifting _id from the record, 500 pairs
    per body in id order, trailing newline. The oracle rebuilds every
    body byte-for-byte — action-format-, batching-, and
    doc-rendering-exact. Logstash_Format daily indexes and the
    update/upsert doc wrapping are pinned by pytest (timezone-dependent
    rendering stays out of the cross-engine hash)."""
    from .functions.serialize import to_es_bulk
    ev = t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.concat(F.lit("evt "), F.col("event_type")).alias("msg"))
    return to_es_bulk(ev, ["id", "msg"], index="events", id_col="id",
                      write_op="create", batch_records=500,
                      order_col="id", out="body")


@q("serialize_loki_push", """
WITH r AS (SELECT event_type AS et, strftime(ts, '%Y-%m-%d') AS day,
                  ts, event_id,
                  '["' || CAST(CAST(floor(epoch(ts)) AS BIGINT)
                               * 1000000000 AS VARCHAR)
                  || '","evt ' || event_type || ' user='
                  || user_id || '"]' AS v
           FROM events)
SELECT et, day, CAST(count(*) AS BIGINT) AS n_values,
       '{"stream":{"et":"' || et || '","day":"' || day
       || '"},"values":['
       || string_agg(v, ',' ORDER BY ts, event_id) || ']}'
       AS stream_body
FROM r GROUP BY et, day
""")
def serialize_loki_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loki push-API stream objects (functions/serialize.to_loki_push ←
    the payload subset of upstream:plugins/out_loki loki.c): label set
    (event_type, day) picks the stream, values are
    ["<epoch-ns>","<line>"] pairs in (ts, id) order — Loki rejects
    out-of-order appends, so ordering is semantics. The oracle rebuilds
    each stream object byte-for-byte including the ns rendering and the
    Jackson array escaping (lines are escape-free by construction;
    escaping itself is pinned by pytest)."""
    from .functions.serialize import to_loki_push
    ev = (t(spark, sf_dir, "events")
          .withColumn("et", F.col("event_type"))
          .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
          .withColumn("line", F.concat(
              F.lit("evt "), F.col("event_type"), F.lit(" user="),
              F.col("user_id").cast("string"))))
    return to_loki_push(ev, ["et", "day"], "line", "ts",
                        order_col="event_id")


@q("syslog_octet_roundtrip", """
SELECT event_type AS "group", CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY event_id) AS INT
       ) AS frame_no,
       '<13>evt ' || event_type || ' id=' || event_id AS msg,
       true AS frame_ok
FROM events
""")
def syslog_octet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 6587 octet-counted framing round trip
    (sources/syslog_frames.py ← the TCP stream-payload subset of
    upstream:plugins/in_syslog): messages frame into one byte stream
    per event_type (Catalyst encode), then the Arrow kernel walks each
    stream back out sequentially. The oracle computes the decoded rows
    directly from the source columns — a length/offset bug anywhere in
    the framing walk mismatches. Byte-length (not char-length) framing
    and malformed-stream tolerance are pinned by pytest."""
    from .sources.syslog_frames import (decode_octet_frames,
                                        encode_octet_frames)
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.concat(F.lit("<13>evt "), F.col("event_type"),
                 F.lit(" id="), F.col("event_id").cast("string"))
        .alias("msg"))
    streams = encode_octet_frames(ev, "msg", group_col="event_type",
                                  order_col="event_id")
    return decode_octet_frames(streams, "stream")


@q("parse_otlp_logs", """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS ts_unix_nano,
       CAST(1 + event_id % 24 AS INT) AS severity_number,
       event_type AS severity_text,
       'evt ' || event_type AS body,
       md5(CAST(event_id AS VARCHAR)) AS trace_id,
       substring(md5(CAST(event_id AS VARCHAR)), 1, 16) AS span_id,
       'app' AS scope_name,
       'svc' || CAST(user_id % 5 AS VARCHAR) AS service,
       CAST(user_id AS VARCHAR) AS user_attr
FROM events
""")
def parse_otlp_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP/JSON logs source (sources/otlp.py ← the file-encoding
    subset of upstream:plugins/in_opentelemetry): per event an OTLP
    ``LogsData`` envelope is constructed, then parsed and flattened by
    the reader — resourceLogs→scopeLogs→logRecords explode, AnyValue
    attribute maps, int64-as-string timestamp cast. The oracle computes
    every extracted field independently from the source columns, so a
    traversal or coalescing bug in the reader mismatches. Map-only (no
    shuffle; explicit schema, no inference scan)."""
    from .sources.otlp import parse_otlp_column
    ev = t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    doc = F.concat(
        F.lit('{"resourceLogs":[{"resource":{"attributes":[{"key":'
              '"service.name","value":{"stringValue":"svc'),
        (F.col("user_id") % 5).cast("string"),
        F.lit('"}}]},"scopeLogs":[{"scope":{"name":"app"},'
              '"logRecords":[{"timeUnixNano":"'),
        (F.unix_timestamp("ts").cast("bigint")
         * F.lit(1000000000)).cast("string"),
        F.lit('","severityNumber":'),
        (1 + F.col("event_id") % 24).cast("string"),
        F.lit(',"severityText":"'), F.col("event_type"),
        F.lit('","body":{"stringValue":"evt '), F.col("event_type"),
        F.lit('"},"attributes":[{"key":"user","value":{"intValue":"'),
        F.col("user_id").cast("string"),
        F.lit('"}}],"traceId":"'), F.md5(eid),
        F.lit('","spanId":"'), F.substring(F.md5(eid), 1, 16),
        F.lit('"}]}]}]}'))
    parsed = parse_otlp_column(
        ev.select("event_id", doc.alias("otlp")), "otlp")
    return parsed.select(
        "event_id", "ts_unix_nano",
        "severity_number", "severity_text", "body",
        "trace_id", "span_id", "scope_name",
        F.col("resource")["service.name"].alias("service"),
        F.col("attributes")["user"].alias("user_attr"))


@q("serialize_json_lines", """
SELECT to_json(struct_pack(doc_id := doc_id, source := source,
                           n_chars := n_chars)) AS value
FROM documents WHERE lang = 'en'
""")
def serialize_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_lines output format (functions/serialize.py ←
    upstream:src/flb_pack.c flb_pack_msgpack_to_json_format): byte-exact
    rendering cross-checked against DuckDB's serializer."""
    from .functions.serialize import to_json_lines
    docs = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return to_json_lines(docs, ["doc_id", "source", "n_chars"]) \
        .select("value")


@q("serialize_csv_ltsv", """
SELECT CAST(doc_id AS VARCHAR) || ',' ||
       CASE WHEN regexp_matches(text, '[",\n\r]')
            THEN '"' || replace(text, '"', '""') || '"' ELSE text END
       || ',' || source AS csv_line,
       'doc_id:' || CAST(doc_id AS VARCHAR) || chr(9)
       || 'source:' || source AS ltsv_line
FROM documents WHERE lang = 'en'
""")
def serialize_csv_ltsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_file csv + ltsv formats (functions/serialize.py ←
    upstream:plugins/out_file/file.c): RFC-4180 quoting and tab-
    separated key:value rendering, byte-exact vs a DuckDB
    reconstruction."""
    from .functions.serialize import to_csv_line, to_ltsv_line
    docs = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    out = to_csv_line(docs, ["doc_id", "text", "source"], out="csv_line")
    out = to_ltsv_line(out, ["doc_id", "source"], out="ltsv_line")
    return out.select("csv_line", "ltsv_line")


@q("serialize_gelf", """
SELECT json_object(
         'version', '1.1',
         'host', 'h' || CAST(user_id % 10 AS VARCHAR),
         'short_message', event_type,
         'timestamp', CAST(floor(epoch(ts)) AS BIGINT),
         'level', CASE event_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 6
                                    WHEN 2 THEN 5 ELSE 1 END,
         '_event_id', event_id)::VARCHAR AS value
FROM events
""")
def serialize_gelf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GELF 1.1 output (functions/serialize.py to_gelf ←
    upstream:src/flb_pack_gelf.c): byte-exact vs DuckDB json_object,
    covering the full gelf_level fallback policy on a synthetic level
    column (name map / numeric passthrough / unknown→1) and the
    integer epoch timestamp rendering."""
    from .functions.serialize import to_gelf
    ev = t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 10).cast("string"))
        .alias("host"),
        F.col("event_type").alias("msg"),
        "ts",
        F.when(F.col("event_id") % 4 == 0, "error")
         .when(F.col("event_id") % 4 == 1, "info")
         .when(F.col("event_id") % 4 == 2, "5")
         .otherwise("weird").alias("lvl"),
        "event_id")
    return to_gelf(ev, "host", "msg", "ts", level_col="lvl",
                   extra_cols=["event_id"]).select("value")


@q("record_accessor_template", """
SELECT 'k/' || event_type || '/u' || CAST(user_id % 10 AS VARCHAR)
         AS key,
       count(*) AS n
FROM events GROUP BY 1
""")
def record_accessor_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-accessor template compilation (functions/record_accessor.py
    ← upstream:src/flb_record_accessor.c): an out_s3-style key template
    '$TAG[1]/$bucket' compiled to one concat() Column."""
    from .functions.record_accessor import compile_template
    ev = t(spark, sf_dir, "events").withColumn(
        "tag", F.concat(F.lit("ev."), "event_type")).withColumn(
        "bucket", F.concat(F.lit("u"), (F.col("user_id") % 10)))
    keyed = ev.withColumn(
        "key", compile_template("k/$TAG[1]/$bucket", tag_col="tag"))
    return keyed.groupBy("key").agg(F.count("*").alias("n"))


# ===========================================================================
# Token-payload dedup + deterministic sampling (north-star input is
# PRE-TOKENIZED sequences — these run the dedup chain on token ids)
# ===========================================================================

# portable word→token-id mapping shared by Spark and the oracle:
# first 7 md5 hex chars mod 50000 (a vocab-sized id space)
_TOK_WORDS_SQL = ("list_transform(string_split(text, ' '), "
                  "w -> CAST(('0x' || substring(md5(w), 1, 7))::BIGINT "
                  "% 50000 AS VARCHAR))")


def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with text replaced by its token-id sequence (space-
    joined) — the pre-tokenized-sequence analogue of the input_hint
    schema, derived deterministically so DuckDB can reproduce it."""
    docs = t(spark, sf_dir, "documents")
    tok = F.transform(
        F.split("text", " "),
        lambda w: (F.conv(F.substring(F.md5(w), 1, 7), 16, 10)
                   .cast("long") % 50000).cast("string"))
    return docs.withColumn("text", F.concat_ws(" ", tok))


@q("dedup_tokens_exact", """
SELECT source,
       count(DISTINCT md5(array_to_string(""" + _TOK_WORDS_SQL + """, ' ')))
         AS distinct_seqs,
       count(*) AS total_docs
FROM documents GROUP BY source
""")
def dedup_tokens_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the TOKEN SEQUENCE (north-star payload):
    one shuffle on the sequence hash, counted per source."""
    toks = _tokenized_docs(spark, sf_dir)
    return (toks.groupBy("source")
            .agg(F.count_distinct(F.md5("text")).alias("distinct_seqs"),
                 F.count("*").alias("total_docs")))


@q("substring_dedup", """
WITH docs AS (SELECT doc_id, """ + _TOK_WORDS_SQL + """ AS toks
              FROM documents),
win AS (
  SELECT d.doc_id, t.i AS pos,
         md5(array_to_string(d.toks[t.i:t.i+7], ' ')) AS wkey
  FROM docs d, unnest(range(1, len(d.toks) - 6)) t(i)),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY wkey) AS c,
           row_number() OVER (PARTITION BY wkey
                              ORDER BY doc_id, pos) AS rn
    FROM win) WHERE c >= 2 AND rn > 1),
pos AS (
  SELECT d.doc_id, t.q, d.toks[t.q] AS tk
  FROM docs d, unnest(range(1, len(d.toks) + 1)) t(q)),
kept AS (
  SELECT p.doc_id, p.q, p.tk FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM marked m
                    WHERE m.doc_id = p.doc_id
                      AND p.q >= m.pos AND p.q < m.pos + 8)),
clean AS (
  SELECT doc_id, count(*) AS n_after,
         string_agg(tk, ' ' ORDER BY q) AS body
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       len(d.toks)::BIGINT AS n_before,
       (len(d.toks) - coalesce(c.n_after, 0))::BIGINT AS n_removed,
       md5(coalesce(c.body, '')) AS clean_md5
FROM docs d LEFT JOIN clean c USING (doc_id)
""")
def substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span removal over token sequences (the
    suffix-array substring dedup of Lee et al. 2022 as its rolling-
    window equivalent): every 8-token window occurring twice anywhere
    in the corpus is scrubbed from all but its globally-first
    occurrence; documents are re-emitted with the surviving tokens.
    The oracle re-derives the marked set with SQL window functions and
    an interval anti-join, and value-checks the REWRITTEN SEQUENCE
    itself (md5 of the cleaned token string), not just the counts."""
    from .operators.tokens import substring_dedup
    toks = (_tokenized_docs(spark, sf_dir)
            .select("doc_id", F.split("text", " ").alias("tokens")))
    out = substring_dedup(toks, length=8, materialize=None)
    return out.select(
        "doc_id", "n_before", "n_removed",
        F.md5(F.concat_ws(" ", "tokens")).alias("clean_md5"))


@q("deterministic_sample", """
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
      % 100 < 20
""")
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 20% sampling by content hash (operators/filters.py
    sampling family): partition-count independent, re-run stable, and
    exactly reproducible by any engine — unlike rand()-based sampling."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7),
        16, 10).cast("long") % 100
    return docs.filter(bucket < 20).select("doc_id", "source", "lang")


# ===========================================================================
# ANN recall@k: approximation quality of the IVF / LSH paths (SURVEY §9)
# ===========================================================================


@q("parse_syslog", r"""
WITH lines AS (
  SELECT event_id,
         '<' || CAST((event_id * 7) % 192 AS VARCHAR) || '>1 '
         || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
         || ' host' || CAST(user_id % 10 AS VARCHAR)
         || ' ' || event_type
         || ' ' || CAST(user_id AS VARCHAR)
         || ' ID' || CAST(event_id % 100 AS VARCHAR)
         || ' - ' || props AS line
  FROM events),
p AS (
  SELECT event_id,
         regexp_extract(line,
           '^<(\d{1,5})>1 ([^ ]+) ([^ ]+) ([^ ]+) ([-0-9]+) ([^ ]+) (\[.*?\]|-) (.+)$',
           ['pri', 'time', 'host', 'ident', 'pid', 'msgid', 'extradata',
            'message']) AS g
  FROM lines)
SELECT event_id,
       CAST(g.pri::BIGINT // 8 AS INT) AS facility,
       CAST(g.pri::BIGINT % 8 AS INT) AS severity,
       strptime(g.time, '%Y-%m-%dT%H:%M:%SZ') AS parsed_ts,
       g.host AS host, g.ident AS ident,
       g.pid::BIGINT AS pid, g.msgid AS msgid, g.message AS message
FROM p
""")
def parse_syslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syslog RFC 5424 preset (upstream:conf/parsers.conf
    syslog-rfc5424) through the engine's vectorized regex-parser path:
    syslog lines are RENDERED from the events table (both engines build
    byte-identical lines), then parsed back via apply_regex_parser —
    typed PRI split into facility/severity, strptime time key, pandas
    UDF extract. A genuine cross-engine parse: DuckDB re-parses the
    same lines with its own RE2 regexp_extract."""
    from .functions.parsers import (
        apply_regex_parser, syslog_parser, syslog_pri_decompose,
    )
    ev = t(spark, sf_dir, "events")
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit("<"), ((F.col("event_id") * 7) % 192).cast("string"),
            F.lit(">1 "),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.lit(" host"), (F.col("user_id") % 10).cast("string"),
            F.lit(" "), F.col("event_type"),
            F.lit(" "), F.col("user_id").cast("string"),
            F.lit(" ID"), (F.col("event_id") % 100).cast("string"),
            F.lit(" - "), F.col("props")).alias("line"))
    parser = syslog_parser("rfc5424", time_format="%Y-%m-%dT%H:%M:%SZ")
    parsed = apply_regex_parser(lines, parser, key="line", out="p")
    fac, sev = syslog_pri_decompose(F.col("p.pri"))
    return parsed.select(
        "event_id", fac.alias("facility"), sev.alias("severity"),
        F.col("p.time").alias("parsed_ts"),
        F.col("p.host").alias("host"), F.col("p.ident").alias("ident"),
        F.col("p.pid").alias("pid"), F.col("p.msgid").alias("msgid"),
        F.col("p.message").alias("message"))


# ===========================================================================
# Token-sequence training-data ops (operators/tokens.py): packing,
# line dedup, decontamination, mixture sampling, repetition stats
# ===========================================================================

_TOK_IDS_SQL = ("list_transform(string_split(text, ' '), "
                "w -> CAST(('0x' || substring(md5(w), 1, 7))::BIGINT "
                "% 50000 AS INT))")


def _tok_int_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents projected to the input_hint schema — (doc_id,
    tokens:array<int>, n_tok, source) — with token ids derived
    deterministically from the words so DuckDB reproduces them."""
    docs = t(spark, sf_dir, "documents")
    tok = F.transform(
        F.split("text", " "),
        lambda w: (F.conv(F.substring(F.md5(w), 1, 7), 16, 10)
                   .cast("long") % 50000).cast("int"))
    return (docs.select("doc_id", "source", tok.alias("tokens"))
            .withColumn("n_tok", F.size("tokens")))


def _pack_oracle_suffix(ctx: int, order_by: str = "doc_id") -> str:
    """DuckDB reproduction of pack_sequences over a CTE named ``d``
    with columns (doc_id, source, tokens, n_tok): naive window prefix
    sum (small-scale oracle for the distributed two-phase scan),
    boundary-split chunk explode, in-order reassembly, md5 over the
    packed token ids. ``order_by`` overrides the concatenation order
    (the shuffled-pack oracle orders by a hash key)."""
    return f"""
o AS (
  SELECT *, CAST(coalesce(sum(n_tok) OVER (
           PARTITION BY source ORDER BY {order_by}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS off
  FROM d),
e AS (
  SELECT *, unnest(generate_series(off // {ctx},
                                   (off + n_tok - 1) // {ctx}))
         AS chunk_id
  FROM o),
p AS (
  SELECT source, chunk_id, off,
         tokens[CAST(greatest(0, chunk_id*{ctx} - off) AS BIGINT) + 1 :
                CAST(least(n_tok, (chunk_id+1)*{ctx} - off) AS BIGINT)]
           AS piece
  FROM e)
SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id,
       count(*) AS n_docs,
       CAST(len(flatten(list(piece ORDER BY off))) AS BIGINT)
         AS n_tok_chunk,
       len(flatten(list(piece ORDER BY off))) = {ctx} AS full,
       md5(array_to_string(list_transform(
           flatten(list(piece ORDER BY off)),
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash,
       md5(coalesce(array_to_string(list_transform(
           list(off - chunk_id*{ctx} ORDER BY off)
             FILTER (WHERE off >= chunk_id*{ctx}),
           x -> CAST(x AS VARCHAR)), ','), '')) AS starts_hash
FROM p GROUP BY source, chunk_id
"""


def _pack_select(packed: DataFrame) -> DataFrame:
    return packed.select(
        "source", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_docs").alias("n_docs"),
        F.col("n_tok_chunk").cast("long").alias("n_tok_chunk"),
        "full",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"),
        F.md5(F.concat_ws(",", F.col("doc_starts").cast("array<string>")))
         .alias("starts_hash"))


@q("pack_sequences", f"""
WITH d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         len(string_split(text, ' ')) AS n_tok
  FROM documents WHERE len(string_split(text, ' ')) > 0),
{_pack_oracle_suffix(64)}
""")
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/tokens.py pack_sequences): concat-
    and-chunk the per-source token streams into fixed 64-token training
    windows via a DISTRIBUTED two-phase prefix sum (no global window).
    The oracle reproduces the full pipeline — offsets, boundary
    splitting, chunk reassembly — and the chunk content is value-checked
    by an md5 over the packed token ids (token-array equality, the
    north-star per-row invariant)."""
    from .operators.tokens import pack_sequences
    d = _tok_int_docs(spark, sf_dir)
    packed = pack_sequences(d, ctx_len=64, id_col="doc_id",
                            group_size=1 << 20)
    return _pack_select(packed)


@q("pack_shuffled", f"""
WITH d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         len(string_split(text, ' ')) AS n_tok,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS skey
  FROM documents WHERE len(string_split(text, ' ')) > 0),
{_pack_oracle_suffix(64, order_by="skey, doc_id")}
""")
def pack_shuffled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global shuffle-then-chunk (operators/tokens.py pack_sequences
    with a hash-derived ``order_col``): the training-data "shuffle the
    corpus deterministically, then pack" step. The order key is a
    portable 60-bit md5 prefix (reproducible by any engine, unlike
    rand()/xxhash64), ``tiebreak_col=doc_id`` pins hash collisions, and
    ``group_size`` is sized to the KEY DOMAIN (2^56 → 16 range groups
    over the 60-bit key space) per hash_order_bucket_width's contract —
    the dense default would degenerate the two-phase scan. Chunk
    content + doc boundaries are value-checked by md5 (token-array
    equality, the north-star per-row invariant)."""
    from .operators.tokens import pack_sequences
    d = _tok_int_docs(spark, sf_dir)
    d = d.withColumn(
        "skey",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long"))
    packed = pack_sequences(d, ctx_len=64, id_col="doc_id",
                            order_col="skey", tiebreak_col="doc_id",
                            group_size=1 << 56)
    return _pack_select(packed)


@q("pack_docs_nosplit", f"""
WITH RECURSIVE d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         len(string_split(text, ' ')) AS n_tok,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS k
  FROM documents WHERE len(string_split(text, ' ')) > 0),
c AS (SELECT *, k // {1 << 56} AS cell FROM d),
fits AS (
  SELECT *, row_number() OVER (PARTITION BY source, cell
                               ORDER BY k, doc_id) AS rn
  FROM c WHERE n_tok <= 64),
walk AS (
  SELECT source, cell, rn, CAST(0 AS BIGINT) AS bin,
         CAST(n_tok AS BIGINT) AS fill
  FROM fits WHERE rn = 1
  UNION ALL
  SELECT s.source, s.cell, s.rn,
         CASE WHEN w.fill + s.n_tok <= 64 THEN w.bin ELSE w.bin + 1 END,
         CASE WHEN w.fill + s.n_tok <= 64 THEN w.fill + s.n_tok
              ELSE CAST(s.n_tok AS BIGINT) END
  FROM walk w JOIN fits s
    ON s.source = w.source AND s.cell = w.cell AND s.rn = w.rn + 1),
bins AS (
  SELECT f.source, f.cell, w.bin,
         count(*) AS n_docs,
         CAST(sum(f.n_tok) AS BIGINT) AS n_tok_bin,
         md5(array_to_string(list_transform(
             flatten(list(f.tokens ORDER BY f.rn)),
             x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
  FROM walk w JOIN fits f
    ON f.source = w.source AND f.cell = w.cell AND f.rn = w.rn
  GROUP BY f.source, f.cell, w.bin)
SELECT source,
       CAST(cell AS VARCHAR) || ':' || CAST(bin AS VARCHAR) AS bin_key,
       n_docs, n_tok_bin,
       CAST(64 - n_tok_bin AS BIGINT) AS pad,
       FALSE AS overlong, tok_hash
FROM bins
UNION ALL
SELECT source, 'L:' || CAST(doc_id AS VARCHAR) AS bin_key,
       CAST(1 AS BIGINT) AS n_docs, CAST(n_tok AS BIGINT) AS n_tok_bin,
       CAST(0 AS BIGINT) AS pad, TRUE AS overlong,
       md5(array_to_string(list_transform(tokens,
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
FROM c WHERE n_tok > 64
""")
def pack_docs_nosplit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-splitting greedy packing (operators/tokens.py
    pack_documents): the SFT posture — documents stay whole, a bin
    closes when the next doc in deterministic md5-key order would
    overflow ctx=64, overlong docs are emitted whole with
    ``overlong = true``, ``pad`` meters the waste. The oracle replays
    the greedy walk as a DuckDB recursive CTE advancing one document
    per iteration in every (source, cell) simultaneously, and
    value-checks bin content by md5 over the packed token ids
    (token-array equality, the north-star per-row invariant)."""
    from .operators.tokens import pack_documents
    d = _tok_int_docs(spark, sf_dir)
    packed = pack_documents(d, ctx_len=64, cell_width=1 << 56)
    return packed.select(
        "source", "bin_key", "n_docs", "n_tok_bin", "pad", "overlong",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"))


@q("line_dedup_c4", """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
           FROM documents),
g AS (SELECT doc_id, words,
             unnest(generate_series(1, (len(words) + 5) // 6)) AS i
      FROM w),
ln AS (SELECT doc_id, i - 1 AS line_no,
              array_to_string(words[(i-1)*6+1 : least(len(words), i*6)],
                              ' ') AS line
       FROM g),
c AS (SELECT md5(line) AS lh, count(*) AS cnt FROM ln GROUP BY 1),
j AS (SELECT ln.*, c.cnt FROM ln JOIN c ON md5(ln.line) = c.lh)
SELECT doc_id,
       CAST(sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN cnt > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       md5(coalesce(array_to_string(flatten(list(
           CASE WHEN cnt <= 2 THEN [line] ELSE []::VARCHAR[] END
           ORDER BY line_no)), ' '), '')) AS text_hash
FROM j GROUP BY doc_id
""")
def line_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus line dedup (operators/tokens.py
    line_dedup): lines occurring >2 times anywhere are removed from
    every document; documents reassemble in original order (value-
    checked via md5 of the rebuilt text). One line-hash shuffle for the
    global count + one doc_id shuffle to reassemble."""
    from .operators.tokens import line_dedup
    docs = t(spark, sf_dir, "documents")
    out = line_dedup(docs, line_words=6, max_occ=2)
    return out.select("doc_id",
                      F.col("n_kept").cast("long").alias("n_kept"),
                      F.col("n_dropped").cast("long").alias("n_dropped"),
                      F.md5("text").alias("text_hash"))


@q("decontaminate_ngrams", f"""
WITH tok AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
             FROM documents),
bench AS (
  SELECT DISTINCT array_to_string(list_transform(tokens[i : i+4],
           x -> CAST(x AS VARCHAR)), '_') AS gram
  FROM (SELECT tokens,
               unnest(generate_series(1, len(tokens) - 4)) AS i
        FROM tok WHERE doc_id % 50 = 0 AND len(tokens) >= 5) b),
train AS (
  SELECT doc_id, source,
         array_to_string(list_transform(tokens[i : i+4],
           x -> CAST(x AS VARCHAR)), '_') AS gram
  FROM (SELECT doc_id, source, tokens,
               unnest(generate_series(1, len(tokens) - 4)) AS i
        FROM tok WHERE doc_id % 50 <> 0 AND len(tokens) >= 5) tr)
SELECT train.doc_id, train.source, count(*) AS n_hits
FROM train JOIN bench ON train.gram = bench.gram
GROUP BY 1, 2
""")
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination (operators/tokens.py
    decontaminate): every 50th document plays the held-out benchmark;
    training docs sharing any token 5-gram with it are flagged with
    their overlap counts. The benchmark gram set is broadcast — the
    10^12-row training side stays map-only + one per-doc count
    shuffle."""
    from .operators.tokens import decontaminate
    d = _tok_int_docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench, n=5, keep_cols=("source",))


@q("mixture_sample_budget", """
WITH d AS (SELECT doc_id, source,
                  len(string_split(text, ' ')) AS n_tok
           FROM documents),
tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot
        FROM d GROUP BY source),
corpus AS (SELECT CAST(sum(n_tok) AS BIGINT) AS corpus_tokens FROM d),
rates AS (SELECT source,
                 CAST(least(1000000,
                   ((corpus_tokens // 4)
                    * (1 + (CAST(substring(source, 4) AS BIGINT) % 5))
                    * 10000) // tot) AS BIGINT) AS ppm
          FROM tot, corpus)
SELECT d.source, CAST(max(ppm) AS BIGINT) AS ppm,
       count(*) AS docs_kept,
       CAST(sum(n_tok) AS BIGINT) AS toks_kept
FROM d JOIN rates ON d.source = rates.source
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
      % 1000000 < ppm
GROUP BY d.source
""")
def mixture_sample_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (operators/tokens.py
    mixture_sample): per-source weights 1–5% of a corpus/4 token
    budget, deterministic content-hash selection, all-BIGINT rate
    arithmetic so any engine lands the same sample. Two tiny broadcast
    aggregates + a map-only filter."""
    from .operators.tokens import mixture_sample
    d = (t(spark, sf_dir, "documents")
         .select("doc_id", "source",
                 F.size(F.split("text", " ")).alias("n_tok")))
    w = 1 + (F.substring("source", 4, 10).cast("long") % 5)
    kept = mixture_sample(d, weight_pct=w,
                          budget_tokens=F.expr("corpus_tokens DIV 4"))
    return (kept.groupBy("source")
            .agg(F.max("ppm").cast("long").alias("ppm"),
                 F.count("*").alias("docs_kept"),
                 F.sum("n_tok").cast("long").alias("toks_kept")))


@q("repetition_stats", """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
           FROM documents),
g AS (SELECT doc_id, words,
             unnest(generate_series(1, (len(words) + 5) // 6)) AS i
      FROM w),
ln AS (SELECT doc_id,
              array_to_string(words[(i-1)*6+1 : least(len(words), i*6)],
                              ' ') AS line
       FROM g),
pl AS (SELECT doc_id, line, count(*) AS c,
              length(min(line)) AS chars
       FROM ln GROUP BY doc_id, line)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_lines,
       count(*) AS n_distinct,
       ROUND(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 6)
         AS dup_line_frac,
       ROUND(sum(CASE WHEN c > 1 THEN c * chars ELSE 0 END)
             / CAST(sum(c * chars) AS DOUBLE), 6) AS dup_char_frac
FROM pl GROUP BY doc_id
""")
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition quality signals (operators/tokens.py
    repetition_stats, Gopher-style duplicate-line rules): per document,
    duplicate-line and duplicate-character fractions from two local
    hash aggregates — no UDF, no global state."""
    from .operators.tokens import repetition_stats
    docs = t(spark, sf_dir, "documents")
    out = repetition_stats(docs, line_words=6)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_distinct").alias("n_distinct"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_char_frac", 6).alias("dup_char_frac"))


_CLEAN_CTE = """
w AS (SELECT doc_id, source, string_split(text, ' ') AS words
      FROM documents),
g AS (SELECT doc_id, source, words,
             unnest(generate_series(1, (len(words) + 5) // 6)) AS i
      FROM w),
ln AS (SELECT doc_id, source, i - 1 AS line_no,
              array_to_string(words[(i-1)*6+1 : least(len(words), i*6)],
                              ' ') AS line
       FROM g),
c AS (SELECT md5(line) AS lh, count(*) AS cnt FROM ln GROUP BY 1),
j AS (SELECT ln.*, c.cnt FROM ln JOIN c ON md5(ln.line) = c.lh),
clean AS (
  SELECT doc_id, min(source) AS source,
         coalesce(array_to_string(flatten(list(
             CASE WHEN cnt <= 2 THEN [line] ELSE []::VARCHAR[] END
             ORDER BY line_no)), ' '), '') AS text
  FROM j GROUP BY doc_id)
"""

_TOK_IDS_CLEAN_SQL = _TOK_IDS_SQL  # same derivation, applied to clean.text


@q("corpus_clean_pack", f"""
WITH {_CLEAN_CTE},
d AS (
  SELECT doc_id, source, {_TOK_IDS_CLEAN_SQL} AS tokens,
         len(string_split(text, ' ')) AS n_tok
  FROM clean WHERE text <> ''),
{_pack_oracle_suffix(64)}
""")
def corpus_clean_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline composed from the token ops:
    raw corpus → C4-style cross-corpus line dedup (boilerplate removed,
    docs reassembled in order) → re-tokenize the CLEANED text →
    concat-and-chunk pack into 64-token training windows. One oracle
    value-checks the whole chain — every boilerplate drop, every
    reassembly, every chunk boundary, every packed token id (md5 per
    chunk). The 100 TB shape is the sum of its parts: line-hash count +
    doc reassemble (2 shuffles) feeding the packing prefix-sum +
    chunk-keyed exchange — no step materializes the corpus more than
    its own operator already does."""
    from .operators.tokens import line_dedup, pack_sequences
    docs = t(spark, sf_dir, "documents")
    clean = (line_dedup(docs, line_words=6, max_occ=2,
                        keep_cols=("source",))
             .filter(F.col("text") != ""))
    tok = F.transform(
        F.split("text", " "),
        lambda w: (F.conv(F.substring(F.md5(w), 1, 7), 16, 10)
                   .cast("long") % 50000).cast("int"))
    d = (clean.select("doc_id", "source", tok.alias("tokens"))
         .withColumn("n_tok", F.size("tokens")))
    return _pack_select(pack_sequences(d, ctx_len=64))


@q("snapshot_flush", """
WITH b AS (
  SELECT event_type, event_id, user_id,
         array_agg(struct_pack(o := event_id, user_id := user_id)) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS buf
  FROM events),
t AS (SELECT event_type, event_id AS flush_at, buf FROM b
      WHERE event_id % 97 = 0),
e AS (SELECT event_type, flush_at, unnest(buf) AS ctx,
             generate_subscripts(buf, 1) - 1 AS ctx_pos FROM t)
SELECT event_type, flush_at, CAST(ctx_pos AS INT) AS ctx_pos,
       ctx['user_id'] AS ctx_user_id
FROM e
""")
def snapshot_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP snapshots (operators/snapshot.py ←
    upstream:src/stream_processor/flb_sp_snapshot.c CREATE SNAPSHOT
    size=3 / FLUSH SNAPSHOT WHEN event_id % 97 = 0): every trigger
    record re-emits the 3 records of its tag stream that preceded it.
    Batch verification form (bounded sliding window, O(N) frame state
    per task); the streaming ring-buffer twin is parity-tested in
    tests/test_streaming.py."""
    from .operators.snapshot import snapshot_context
    ev = t(spark, sf_dir, "events")
    return snapshot_context(ev, "event_type", "event_id",
                            F.col("event_id") % 97 == 0,
                            limit_rows=3, payload_cols=["user_id"])


# ===========================================================================
# Unigram-LM surprisal quality scoring + stratified holdout split (the
# quality-filter and eval-carve-out steps of a training-data pipeline)
# ===========================================================================

@q("unigram_surprisal", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) > 0),
ex AS (SELECT doc_id, source, unnest(tokens) AS tok FROM d),
f AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
tt AS (SELECT sum(c) AS t FROM f),
m AS (SELECT tok, CAST(round(-ln(c / t) * 1000) AS BIGINT) AS nll
      FROM f, tt),
doc AS (SELECT doc_id, source, sum(nll) AS nll_millinats,
               count(*) AS n FROM ex JOIN m USING (tok)
        GROUP BY doc_id, source)
SELECT source, CAST(nll_millinats // n // 500 AS BIGINT) AS surprisal_band,
       count(*) AS docs,
       CAST(sum(nll_millinats) AS BIGINT) AS sum_nll,
       CAST(sum(n) AS BIGINT) AS sum_tok
FROM doc GROUP BY source, surprisal_band
""")
def unigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality scoring (operators/tokens.py
    unigram_surprisal): corpus-trained token frequencies -> per-token
    surprisal in integer milli-nats -> exact BIGINT per-document sums,
    banded into a per-source quality histogram. The oracle reproduces
    the whole chain — frequency model, milli-nat rounding, document
    sums, banding — in DuckDB."""
    from .operators.tokens import unigram_surprisal
    d = _tok_int_docs(spark, sf_dir)
    doc = unigram_surprisal(d)
    return (doc.groupBy(
                "source",
                F.expr("nll_millinats DIV n_tok_scored DIV 500")
                 .alias("surprisal_band"))
            .agg(F.count("*").alias("docs"),
                 F.sum("nll_millinats").alias("sum_nll"),
                 F.sum("n_tok_scored").alias("sum_tok")))


@q("score_oov_audit", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
                  len(string_split(text, ' ')) AS n_tok
           FROM documents WHERE len(string_split(text, ' ')) > 0),
train AS (SELECT * FROM d WHERE doc_id % 2 = 0),
ex_t AS (SELECT unnest(tokens) AS tok FROM train),
f AS (SELECT tok, count(*) AS c FROM ex_t GROUP BY tok),
tt AS (SELECT sum(c) AS t FROM f),
m AS (SELECT tok, CAST(round(-ln(c / t) * 1000) AS BIGINT) AS nll
      FROM f, tt),
ex AS (SELECT doc_id, source, unnest(tokens) AS tok FROM d),
sc AS (SELECT doc_id, source, sum(nll) AS nll_millinats,
              count(*) AS n_tok_scored
       FROM ex JOIN m USING (tok) GROUP BY doc_id, source)
SELECT d.source, d.doc_id % 2 = 0 AS in_train,
       count(*) AS docs,
       CAST(sum(d.n_tok) AS BIGINT) AS tok_in,
       CAST(sum(coalesce(sc.n_tok_scored, 0)) AS BIGINT) AS tok_scored,
       CAST(sum(coalesce(sc.nll_millinats, 0)) AS BIGINT) AS sum_nll
FROM d LEFT JOIN sc USING (doc_id, source)
GROUP BY d.source, in_train
""")
def score_oov_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once/score-many with out-of-vocabulary audit
    (operators/tokens.py unigram_model + score_tokens): the model is
    trained on HALF the corpus (even doc_ids) and scores ALL of it —
    the production posture where scored data contains tokens the
    maintained model never saw. OOV tokens are unscored by contract
    (inner join), so tok_scored < tok_in on the held-out half is the
    audit signal; the oracle reproduces the subset model, the
    milli-nat weights, and the per-group scored/unscored split."""
    from .operators.tokens import score_tokens, unigram_model
    d = _tok_int_docs(spark, sf_dir)
    model = unigram_model(d.filter(F.col("doc_id") % 2 == 0))
    sc = score_tokens(d, model)
    joined = d.join(sc, ["doc_id", "source"], "left")
    return (joined.groupBy(
                "source",
                (F.col("doc_id") % 2 == 0).alias("in_train"))
            .agg(F.count("*").alias("docs"),
                 F.sum("n_tok").alias("tok_in"),
                 F.sum(F.coalesce(F.col("n_tok_scored"), F.lit(0)))
                  .alias("tok_scored"),
                 F.sum(F.coalesce(F.col("nll_millinats"), F.lit(0)))
                  .alias("sum_nll")))


@q("bigram_surprisal", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) >= 2),
ex AS (SELECT doc_id, source, tokens,
              unnest(range(1, len(tokens))) AS i FROM d),
pr AS (SELECT doc_id, source, tokens[i] AS t1, tokens[i + 1] AS t2
       FROM ex),
bc AS (SELECT t1, t2, count(*) AS c FROM pr GROUP BY t1, t2),
cx AS (SELECT t1, sum(c) AS cc FROM bc GROUP BY t1),
m AS (SELECT t1, t2, CAST(round(-ln(c / cc) * 1000) AS BIGINT) AS nll
      FROM bc JOIN cx USING (t1)),
doc AS (SELECT doc_id, source, sum(nll) AS nll_millinats,
               count(*) AS n FROM pr JOIN m USING (t1, t2)
        GROUP BY doc_id, source)
SELECT source, CAST(nll_millinats // n // 500 AS BIGINT) AS surprisal_band,
       count(*) AS docs,
       CAST(sum(nll_millinats) AS BIGINT) AS sum_nll,
       CAST(sum(n) AS BIGINT) AS sum_pairs
FROM doc GROUP BY source, surprisal_band
""")
def bigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/tokens.py
    bigram_surprisal): corpus-trained conditional bigram probabilities
    -> per-pair surprisal in integer milli-nats -> exact BIGINT
    per-document sums, banded into a per-source histogram. The oracle
    reproduces the full chain — pair extraction, conditional model,
    milli-nat rounding, sums, banding. Unlike the unigram model the
    pair-keyed model is corpus-sized (not broadcastable at scale);
    the operator scores via a shuffle join + AQE skew split."""
    from .operators.tokens import bigram_surprisal
    d = _tok_int_docs(spark, sf_dir)
    doc = bigram_surprisal(d)
    return (doc.groupBy(
                "source",
                F.expr("nll_millinats DIV n_bigrams_scored DIV 500")
                 .alias("surprisal_band"))
            .agg(F.count("*").alias("docs"),
                 F.sum("nll_millinats").alias("sum_nll"),
                 F.sum("n_bigrams_scored").alias("sum_pairs")))


@q("trigram_surprisal", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) >= 3),
ex AS (SELECT doc_id, source, tokens,
              unnest(range(1, len(tokens) - 1)) AS i FROM d),
tr AS (SELECT doc_id, source, tokens[i] AS t1, tokens[i + 1] AS t2,
              tokens[i + 2] AS t3
       FROM ex),
gc AS (SELECT t1, t2, t3, count(*) AS c FROM tr GROUP BY t1, t2, t3),
cx AS (SELECT t1, t2, sum(c) AS cc FROM gc GROUP BY t1, t2),
m AS (SELECT t1, t2, t3, CAST(round(-ln(c / cc) * 1000) AS BIGINT) AS nll
      FROM gc JOIN cx USING (t1, t2)),
doc AS (SELECT doc_id, source, sum(nll) AS nll_millinats,
               count(*) AS n FROM tr JOIN m USING (t1, t2, t3)
        GROUP BY doc_id, source)
SELECT source, CAST(nll_millinats // n // 500 AS BIGINT) AS surprisal_band,
       count(*) AS docs,
       CAST(sum(nll_millinats) AS BIGINT) AS sum_nll,
       CAST(sum(n) AS BIGINT) AS sum_grams
FROM doc GROUP BY source, surprisal_band
""")
def trigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM quality scoring (operators/tokens.py
    ngram_surprisal, order=3) — one more rung toward the CCNet 5-gram
    KenLM posture: conditional trigram probabilities trained on the
    corpus itself, per-gram surprisal in integer milli-nats, exact
    BIGINT per-document sums, banded per source. The gram-keyed model
    is corpus-sized (shuffle join + AQE skew split, the bigram plan
    with a wider key); the oracle replays extraction, conditional
    model, rounding, sums, and banding bit-exactly."""
    from .operators.tokens import ngram_surprisal
    d = _tok_int_docs(spark, sf_dir)
    doc = ngram_surprisal(d, order=3)
    return (doc.groupBy(
                "source",
                F.expr("nll_millinats DIV n_ngrams_scored DIV 500")
                 .alias("surprisal_band"))
            .agg(F.count("*").alias("docs"),
                 F.sum("nll_millinats").alias("sum_nll"),
                 F.sum("n_ngrams_scored").alias("sum_grams")))


@q("backoff_surprisal", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) > 0),
tr AS (SELECT * FROM d WHERE doc_id % 2 = 0),
uf AS (SELECT t, count(*) AS c
       FROM (SELECT unnest(tokens) AS t FROM tr) GROUP BY t),
ut AS (SELECT sum(c) AS tt FROM uf),
m1 AS (SELECT t, CAST(round(-ln(c / tt) * 1000) AS BIGINT) AS nll
       FROM uf, ut),
bc AS (SELECT u1, u2, count(*) AS c FROM (
         SELECT tokens[i] AS u1, tokens[i + 1] AS u2
         FROM (SELECT tokens, unnest(range(1, len(tokens))) AS i
               FROM tr WHERE len(tokens) >= 2))
       GROUP BY u1, u2),
bcx AS (SELECT u1, sum(c) AS cc FROM bc GROUP BY u1),
m2 AS (SELECT u1, u2, CAST(round(-ln(c / cc) * 1000) AS BIGINT) AS nll
       FROM bc JOIN bcx USING (u1)),
tc AS (SELECT v1, v2, v3, count(*) AS c FROM (
         SELECT tokens[i] AS v1, tokens[i + 1] AS v2,
                tokens[i + 2] AS v3
         FROM (SELECT tokens, unnest(range(1, len(tokens) - 1)) AS i
               FROM tr WHERE len(tokens) >= 3))
       GROUP BY v1, v2, v3),
tcx AS (SELECT v1, v2, sum(c) AS cc FROM tc GROUP BY v1, v2),
m3 AS (SELECT v1, v2, v3,
              CAST(round(-ln(c / cc) * 1000) AS BIGINT) AS nll
       FROM tc JOIN tcx USING (v1, v2)),
sg AS (SELECT doc_id, source, tokens[i] AS t1, tokens[i + 1] AS t2,
              tokens[i + 2] AS t3
       FROM (SELECT doc_id, source, tokens,
                    unnest(range(1, len(tokens) - 1)) AS i
             FROM d WHERE len(tokens) >= 3)),
ps AS (SELECT sg.doc_id, sg.source,
              coalesce(m3.nll, m2.nll + 916, m1.nll + 1832,
                       20000 + 1832) AS nll,
              m3.nll IS NOT NULL AS fullhit,
              (m3.nll IS NULL AND m2.nll IS NULL AND m1.nll IS NULL)
                AS oov
       FROM sg
       LEFT JOIN m3 ON m3.v1 = sg.t1 AND m3.v2 = sg.t2
                   AND m3.v3 = sg.t3
       LEFT JOIN m2 ON m2.u1 = sg.t2 AND m2.u2 = sg.t3
       LEFT JOIN m1 ON m1.t = sg.t3),
doc AS (SELECT doc_id, source, sum(nll) AS nll, count(*) AS n,
               sum(CASE WHEN fullhit THEN 1 ELSE 0 END) AS nf,
               sum(CASE WHEN oov THEN 1 ELSE 0 END) AS no
        FROM ps GROUP BY doc_id, source)
SELECT source, CAST(nll // n // 500 AS BIGINT) AS surprisal_band,
       count(*) AS docs, CAST(sum(nll) AS BIGINT) AS sum_nll,
       CAST(sum(n) AS BIGINT) AS sum_grams,
       CAST(sum(nf) AS BIGINT) AS sum_full,
       CAST(sum(no) AS BIGINT) AS sum_oov
FROM doc GROUP BY source, surprisal_band
""")
def backoff_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scoring (operators/tokens.py
    backoff_surprisal): orders 1..3 trained on the even-doc_id half of
    the corpus, ALL documents scored — held-out grams back off
    trigram → bigram → unigram with the integer 916 milli-nat penalty
    (−ln 0.4), full misses take the OOV floor. The oracle rebuilds all
    three models, replays the coalesce ladder, and value-checks the
    exact BIGINT sums plus the per-order audit counts, banded per
    source like the other scorers."""
    from .operators.tokens import backoff_surprisal
    d = _tok_int_docs(spark, sf_dir)
    doc = backoff_surprisal(d.filter(F.col("doc_id") % 2 == 0), d,
                            order=3)
    return (doc.groupBy(
                "source",
                F.expr("nll_millinats DIV n_scored DIV 500")
                 .alias("surprisal_band"))
            .agg(F.count("*").alias("docs"),
                 F.sum("nll_millinats").alias("sum_nll"),
                 F.sum("n_scored").alias("sum_grams"),
                 F.sum("n_full").alias("sum_full"),
                 F.sum("n_oov").alias("sum_oov")))


_SPLIT_RATES = {f"src{i}": (100 if i % 3 == 0 else 25)
                for i in range(0, 20, 2)}  # odd sources -> default 10


@q("stratified_split", """
WITH s AS (
  SELECT doc_id, source,
         CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                   ::BIGINT % 1000
              < (CASE WHEN CAST(substring(source, 4) AS BIGINT) % 2 = 0
                      THEN CASE WHEN CAST(substring(source, 4) AS BIGINT)
                                     % 3 = 0 THEN 100 ELSE 25 END
                      ELSE 10 END)
         THEN 'holdout' ELSE 'train' END AS split
  FROM documents)
SELECT source, split, count(*) AS docs,
       md5(string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY CAST(doc_id AS VARCHAR)))
         AS ids_hash
FROM s GROUP BY source, split
""")
def stratified_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source eval holdout (operators/filters.py
    stratified_split): each source holds out its own per-mille rate by
    content hash — partition-independent and engine-reproducible. The
    oracle recomputes the assignment AND an md5 over the sorted member
    ids per (source, split), so the exact row SETS are value-checked,
    not just the counts."""
    from .operators.filters import stratified_split
    docs = t(spark, sf_dir, "documents")
    out = stratified_split(docs, "source", "doc_id",
                           _SPLIT_RATES, default_permille=10)
    return (out.groupBy("source", "split")
            .agg(F.count("*").alias("docs"),
                 F.md5(F.concat_ws(",", F.sort_array(
                     F.collect_list(F.col("doc_id").cast("string")))))
                  .alias("ids_hash")))


@q("tfidf_topk", f"""
WITH d AS (SELECT doc_id, {_TOK_IDS_SQL} AS tokens FROM documents),
ex AS (SELECT doc_id, unnest(tokens) AS tok FROM d),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM ex GROUP BY doc_id, tok),
dfq AS (SELECT tok, count(*) AS df_t FROM tf GROUP BY tok),
nn AS (SELECT count(*) AS n_docs FROM d),
idf AS (SELECT tok, (n_docs * CAST(1000000 AS BIGINT)) // df_t
               AS idf_ppm FROM dfq, nn),
sc AS (SELECT tf.doc_id, tf.tok, tf.tf, tf.tf * idf.idf_ppm AS score
       FROM tf JOIN idf USING (tok)),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, tok ASC)
               AS rank FROM sc)
SELECT doc_id, tok, tf, score, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 3
""")
def tfidf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact TF-IDF keyword extraction (operators/tokens.py
    tfidf_topk): fixed-point idf (ppm) keeps scores and ranks
    engine-identical; the oracle reproduces tf, document frequency,
    the fixed-point idf, and the deterministic top-3 per document."""
    from .operators.tokens import tfidf_topk
    d = _tok_int_docs(spark, sf_dir)
    out = tfidf_topk(d, k=3)
    return out.withColumn("rank", F.col("rank").cast("int"))


@q("serialize_template", """
SELECT '[' || source || '] doc ' || CAST(doc_id AS VARCHAR)
       || ' lang=' || lang || ' chars=' || CAST(n_chars AS VARCHAR)
       AS value
FROM documents WHERE lang = 'en'
""")
def serialize_template_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_file Format template (functions/serialize.py to_template ←
    upstream:plugins/out_file template mode): the {key} line renderer,
    byte-exact vs a DuckDB string-concat reconstruction."""
    from .functions.serialize import to_template
    docs = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return to_template(
        docs, "[{source}] doc {doc_id} lang={lang} chars={n_chars}"
    ).select("value")


@q("script_filter_map", """
SELECT doc_id, source, reverse(lang) AS gnal,
       CAST(n_chars * 2 AS BIGINT) AS n2
FROM documents WHERE n_chars % 3 = 0
""")
def script_filter_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_lua analogue (operators/script.py filter_map_batches):
    one vectorized batch script does drop (keep n_chars % 3 == 0) +
    modify (reversed lang, doubled n_chars) over Arrow batches — the
    upstream -1/0/1 return codes as a pandas batch function. Oracled:
    DuckDB reproduces the script's effect, so the Arrow round-trip is
    value-checked, not just smoke-tested."""
    import pandas as pd

    from .operators.script import filter_map_batches
    docs = t(spark, sf_dir, "documents") \
        .select("doc_id", "source", "lang", "n_chars")

    def script(b: pd.DataFrame) -> pd.DataFrame:
        b = b[b["n_chars"] % 3 == 0].copy()      # drop (-1)
        b["gnal"] = b["lang"].str[::-1]          # modify (1)
        b["n2"] = (b["n_chars"] * 2).astype("int64")
        return b[["doc_id", "source", "gnal", "n2"]]

    return filter_map_batches(
        docs, script,
        "doc_id bigint, source string, gnal string, n2 bigint")


@q("second_stage_parse", """
SELECT doc_id,
       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
       regexp_extract(props, '"tag": "(t[0-9])"', 1) AS tg
FROM (SELECT doc_id,
             '{"k": ' || CAST(doc_id % 97 AS VARCHAR) ||
             ', "tag": "t' || CAST(doc_id % 5 AS VARCHAR) || '"}'
               AS props
      FROM documents)
""")
def second_stage_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_parser second stage (plans/filters.ParserFilterSpec →
    functions/parsers.py apply_regex_parser): a field produced by the
    first parse is re-parsed by a NAMED PARSER with typed groups —
    the actual [FILTER] Name parser machinery, not inline expressions.
    DuckDB reproduces the extraction + the int typecast."""
    from .functions.parsers import RegexParser, apply_regex_parser
    docs = t(spark, sf_dir, "documents")
    props = F.concat(F.lit('{"k": '), (F.col("doc_id") % 97).cast("string"),
                     F.lit(', "tag": "t'),
                     (F.col("doc_id") % 5).cast("string"), F.lit('"}'))
    d = docs.select("doc_id", props.alias("props"))
    parser = RegexParser(name="props_json",
                         pattern=r'"k": (?P<k>\d+), "tag": "(?P<tg>t\d)"',
                         types={"k": "integer"})
    out = apply_regex_parser(d, parser, key="props", out="p2")
    return out.select("doc_id",
                      F.col("p2.k").cast("long").alias("k"),
                      F.col("p2.tg").alias("tg"))


@q("time_parse_strptime", """
SELECT doc_id,
       CAST(epoch(strptime(ts_str, '%d/%b/%Y:%H:%M:%S %z')) AS BIGINT)
         AS epoch_s,
       CAST(doc_id % 86400 AS BIGINT) AS epoch_raw
FROM (SELECT doc_id,
             strftime(make_timestamp(1767225600000000
                                     + (doc_id % 86400) * 1000000),
                      '%d/%b/%Y:%H:%M:%S') || ' +0000' AS ts_str
      FROM documents)
""")
def time_parse_strptime_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strptime time parsing (functions/parsers.py try_strptime ←
    fluent-bit [PARSER] Time_Format): apache-style '%d/%b/%Y:%H:%M:%S
    %z' strings round-trip to the exact epoch second in BOTH engines
    (epoch output sidesteps timestamp rendering differences), plus the
    '%s' epoch fast path."""
    from .functions.parsers import try_strptime
    docs = t(spark, sf_dir, "documents")
    sec = (F.col("doc_id") % 86400).cast("long")
    ts_str = F.concat(
        F.date_format(F.timestamp_seconds(F.lit(1767225600) + sec),
                      "dd/MMM/yyyy:HH:mm:ss"),
        F.lit(" +0000"))
    d = docs.select("doc_id", ts_str.alias("ts_str"), sec.alias("sec"))
    return d.select(
        "doc_id",
        F.unix_timestamp(try_strptime("ts_str",
                                      "%d/%b/%Y:%H:%M:%S %z"))
         .alias("epoch_s"),
        F.unix_timestamp(try_strptime(F.col("sec").cast("string"),
                                      "%s")).alias("epoch_raw"))


@q("expect_stamp", """
SELECT source,
       CAST(sum(CASE WHEN lang IS NOT NULL AND n_chars > 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS ok_docs,
       count(*) AS docs
FROM documents GROUP BY source
""")
def expect_stamp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_expect result_key action (operators/filters.py expect ←
    upstream:plugins/filter_expect): the invariant stamps a boolean
    instead of aborting; counted per source so the whole stamp column
    is value-checked."""
    from .operators.filters import expect
    docs = t(spark, sf_dir, "documents")
    out = expect(docs, F.col("lang").isNotNull()
                 & (F.col("n_chars") > 120),
                 action="result_key", result_key="ok")
    return (out.groupBy("source")
            .agg(F.sum(F.col("ok").cast("long")).alias("ok_docs"),
                 F.count("*").alias("docs")))


@q("checklist_flag_record", """
SELECT d.doc_id,
       d.lang IN (SELECT DISTINCT lang FROM documents
                  WHERE n_chars % 7 = 0) AS matched,
       CASE WHEN d.lang IN (SELECT DISTINCT lang FROM documents
                            WHERE n_chars % 7 = 0)
            THEN 'on_list' END AS note
FROM documents d
""")
def checklist_flag_record_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_checklist Action flag + Record sets (operators/enrich.py
    checklist_flag ← upstream:plugins/filter_checklist): the value list
    broadcast stamps ``matched`` and a Record column on hits — the
    upstream default behavior (the semi/anti extensions are oracled
    separately as checklist_semi/checklist_anti)."""
    from .operators.enrich import checklist_flag
    docs = t(spark, sf_dir, "documents")
    values = (docs.filter(F.col("n_chars") % 7 == 0)
              .select("lang").distinct())
    out = checklist_flag(docs, values, "lang", list_key="lang")
    return out.select(
        "doc_id", "matched",
        F.when(F.col("matched"), F.lit("on_list")).alias("note"))


@q("log_latency_quantiles", """
SELECT event_type,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events GROUP BY event_type
""")
def log_latency_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-quantile metrics per event type (the log_to_metrics
    summary/quantile shape — upstream:plugins/filter_log_to_metrics
    histogram mode feeds cmetrics summaries): exact linear-interpolated
    percentiles, which Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` compute identically (verified to 1e-12). The
    10^12-row scale path swaps in ``approx_percentile`` (t-digest-like
    sketch, one pass, mergeable partials); the exact form is the
    oracle-able correctness anchor."""
    d = t(spark, sf_dir, "events")
    return (d.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.50)"), 6)
                  .alias("p50"),
                 F.round(F.expr("percentile(value, 0.95)"), 6)
                  .alias("p95"),
                 F.round(F.expr("percentile(value, 0.99)"), 6)
                  .alias("p99"),
                 F.count("*").alias("n")))


@q("forward_roundtrip", """
SELECT event_id, ts, event_type, user_id, value, props,
       'events.' || event_type AS tag
FROM events
""")
def forward_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forward protocol's file subset, end to end (r4 — closes the
    in_forward/out_forward row at the same file-subset level as OTLP;
    upstream:plugins/out_forward/forward.c PackedForward framing,
    upstream:src/flb_input_chunk.c buffer-chunk stream — public
    protocol spec, reference mount empty per SURVEY §0): every event
    row is msgpack-ENCODED as a ``[EventTime, record]`` entry by the
    pure-Catalyst encoder (functions/msgpack.py — canonical int
    widths, IEEE-754 float64 bits by exact power-of-two arithmetic,
    no Python boundary, byte-exact vs the reference codec in
    tests/test_forward.py), folded into per-partition PackedForward
    ``[tag, bin, {"size": n}]`` chunks (sources/forward.py — the shape
    fluent-bit buffers on disk; no shuffle, chunks are per-task), then
    DECODED back to typed rows by the Arrow-batched file codec. The
    oracle is the identity SELECT: only a bit-exact encode→pack→decode
    chain reproduces every int, double, string, and microsecond
    timestamp."""
    from .sources import forward as fwd
    fields = [("event_id", "long"), ("event_type", "string"),
              ("user_id", "long"), ("value", "double"),
              ("props", "string")]
    ev = t(spark, sf_dir, "events").withColumn(
        "tag", F.concat(F.lit("events."), F.col("event_type")))
    ent = fwd.entries_column(ev, "ts", fields)
    chunks = fwd.pack_chunks(ent, "tag", "entry")
    back = fwd.with_event_ts(
        fwd.decode_forward_binary(chunks, "chunk", fields))
    return back.select("event_id", "ts", "event_type", "user_id",
                       "value", "props", "tag")


# ===========================================================================
# Grok front end (functions/grok.py): %{SYNTAX:semantic:type} patterns
# compiled to the vectorized regex-parser path
# ===========================================================================

@q("grok_parse", r"""
WITH lines AS (
  SELECT event_id,
         '10.' || CAST(event_id % 200 AS VARCHAR) || '.0.'
         || CAST(user_id % 200 AS VARCHAR)
         || ' - user' || CAST(user_id AS VARCHAR)
         || ' [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "'
         || upper(event_type) || ' /api/' || event_type
         || ' HTTP/1.1" ' || CAST((event_id % 5) * 100 + 100 AS VARCHAR)
         || ' ' || CAST(user_id * 10 + event_id % 7 AS VARCHAR) AS line
  FROM events),
p AS (
  SELECT event_id,
         regexp_extract(line,
           '^([0-9.]+) (\S+) (\S+) \[(.+?)\] "(\w+) (\S+) HTTP/([0-9.]+)" ([0-9]+) ([0-9]+)$',
           ['clientip', 'ident', 'auth', 'timestamp', 'verb', 'request',
            'httpversion', 'response', 'bytes']) AS g
  FROM lines)
SELECT event_id,
       g.clientip AS clientip, g.auth AS auth,
       g.timestamp AS http_ts, g.verb AS verb, g.request AS request,
       g.httpversion::DOUBLE AS httpversion,
       g.response::BIGINT AS response, g.bytes::BIGINT AS bytes
FROM p
""")
def grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok field extraction (north_star: "grok/regex field extraction
    re-expressed as vectorized pandas/Arrow UDFs"): apache-access-style
    lines are RENDERED from the events table (both engines build
    byte-identical lines), then Spark parses them back through a
    grok pattern — library references (%{IPORHOST}, %{HTTPDATE}, …)
    plus typed semantics (:int/:float) — compiled by
    functions/grok.compile_grok into the same Arrow-batched
    Series.str.extract path every regex parser uses. DuckDB re-parses
    the same lines with an INDEPENDENTLY written RE2 regex, so the
    oracle cross-checks two different regex engines AND two different
    pattern authorings."""
    from .functions.grok import compile_grok
    from .functions.parsers import apply_regex_parser
    ev = t(spark, sf_dir, "events")
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit("10."), (F.col("event_id") % 200).cast("string"),
            F.lit(".0."), (F.col("user_id") % 200).cast("string"),
            F.lit(" - user"), F.col("user_id").cast("string"),
            F.lit(" ["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
            F.lit(" +0000] \""), F.upper("event_type"),
            F.lit(" /api/"), F.col("event_type"),
            F.lit(" HTTP/1.1\" "),
            ((F.col("event_id") % 5) * 100 + 100).cast("string"),
            F.lit(" "),
            (F.col("user_id") * 10 + F.col("event_id") % 7).cast("string"),
        ).alias("line"))
    parser = compile_grok(
        r'%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} '
        r'\[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{NOTSPACE:request} '
        r'HTTP/%{NUMBER:httpversion:float}" %{NUMBER:response:int} '
        r'%{NUMBER:bytes:int}', name="apache_common")
    parsed = apply_regex_parser(lines, parser, key="line", out="g")
    return parsed.select(
        "event_id",
        F.col("g.clientip").alias("clientip"),
        F.col("g.auth").alias("auth"),
        F.col("g.timestamp").alias("http_ts"),
        F.col("g.verb").alias("verb"),
        F.col("g.request").alias("request"),
        F.col("g.httpversion").alias("httpversion"),
        F.col("g.response").alias("response"),
        F.col("g.bytes").alias("bytes"))


# ===========================================================================
# Naive-Bayes log-odds quality classifier (operators/tokens.py)
# ===========================================================================


@q("nb_quality", """
WITH ex AS (
  SELECT doc_id, source, lang = 'en' AS pos, tok
  FROM (SELECT doc_id, source, lang,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '')) AS tok
        FROM documents)),
freq AS (
  SELECT tok,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cb
  FROM ex GROUP BY tok),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM freq),
model AS (
  SELECT tok,
         CAST(round((ln((ca + 1.0) / (na + 1.0 * v))
                     - ln((cb + 1.0) / (nb + 1.0 * v))) * 1000)
              AS BIGINT) AS w
  FROM freq, tot)
SELECT e.doc_id, e.source,
       CAST(sum(m.w) AS BIGINT) AS llr_millinats, count(*) AS n_tok,
       (sum(m.w) > 0) AS pred
FROM ex e JOIN model m USING (tok)
GROUP BY e.doc_id, e.source
""")
def nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes log-odds quality classifier (operators/tokens.py
    nb_quality_score): lang='en' documents are the exemplar class;
    every document scores its summed token log-likelihood-ratio in
    exact integer milli-nats. The full chain — conditional counts,
    class totals, smoothed log-odds weights, fixed-point rounding,
    per-doc BIGINT sums, the decision — is reproduced in DuckDB."""
    from .operators.tokens import nb_quality_score
    docs = t(spark, sf_dir, "documents")
    return nb_quality_score(docs, F.col("lang") == "en")


# ===========================================================================
# Kafka RecordBatch v2 + journald export file subsets (r5 — closes the
# in_kafka/out_kafka and in_systemd rows at the payload-codec level)
# ===========================================================================

@q("kafka_batch_roundtrip", """
SELECT 'events.' || event_type AS topic,
       CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       CAST(event_id AS VARCHAR) AS k,
       props,
       event_type AS et,
       true AS crc_ok
FROM events
""")
def kafka_batch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka record-batch payload subset, end to end
    (sources/kafka_batches.py ← upstream:plugins/in_kafka /
    out_kafka with the librdkafka transport scoped out; RecordBatch
    v2 per the public Apache Kafka protocol spec): every event row is
    encoded as a record (CreateTime millis, key, value, one header),
    folded into one CRC32C-stamped RecordBatch per topic per task
    (functions/kafka_codec.py — ZigZag varints, big-endian batch
    header, Castagnoli CRC pinned by known-answer vectors), then
    decoded back by the per-file Arrow kernel. The oracle computes
    every decoded field independently from the source columns — a
    varint, framing, or CRC bug anywhere mismatches. No shuffle on
    encode (batches are per-task, like producer flushes); decode is
    map-only."""
    from .sources import kafka_batches as kb
    ev = t(spark, sf_dir, "events").select(
        F.concat(F.lit("events."), F.col("event_type")).alias("topic"),
        "ts", F.col("event_id").cast("string").alias("k"),
        "props", "event_type")
    chunks = kb.pack_record_batches(
        ev, topic_col="topic", ts_col="ts", key_col="k",
        value_col="props", header_cols=["event_type"])
    back = kb.decode_kafka_binary(chunks, "batch",
                                  passthrough=["topic"])
    return back.select(
        "topic", "ts_ms", F.col("key").cast("string").alias("k"),
        F.col("value").cast("string").alias("props"),
        F.element_at("headers", 1)["value"].cast("string").alias("et"),
        "crc_ok")


@q("journal_export_roundtrip", """
SELECT event_type AS "group",
       'evt ' || event_type || ' id=' || event_id AS message,
       CAST(event_id % 8 AS VARCHAR) AS priority,
       ts,
       'systemd.' || event_type || '.service' AS tag,
       true AS entry_ok
FROM events
""")
def journal_export_roundtrip(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """systemd Journal Export Format round trip
    (sources/journal_export.py ← the interchange-format subset of
    upstream:plugins/in_systemd; systemd.io/JOURNAL_EXPORT_FORMATS):
    per event a journal entry (MESSAGE/PRIORITY/_SYSTEMD_UNIT/
    __REALTIME_TIMESTAMP) renders into one export stream per
    event_type (Catalyst encode), then the Arrow kernel walks the
    streams back out — entry boundaries, field splits, the
    microsecond timestamp lift, and unit-based tagging are all
    exercised. The oracle computes the decoded rows directly from the
    source columns. Binary-safe fields and malformed-stream tolerance
    are pinned by pytest (they need byte values a parquet VARCHAR
    column can't express)."""
    from .sources import journal_export as je
    ev = t(spark, sf_dir, "events").select(
        F.concat(F.lit("evt "), F.col("event_type"), F.lit(" id="),
                 F.col("event_id")).alias("MESSAGE"),
        (F.col("event_id") % 8).cast("string").alias("PRIORITY"),
        F.concat(F.col("event_type"), F.lit(".service"))
        .alias("_SYSTEMD_UNIT"),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("string")
        .alias("__REALTIME_TIMESTAMP"),
        "event_type", "event_id")
    streams = je.encode_export(
        ev, ["MESSAGE", "PRIORITY", "_SYSTEMD_UNIT",
             "__REALTIME_TIMESTAMP"],
        group_col="event_type", order_col="event_id")
    dec = je.with_journal_tag(je.with_journal_ts(
        je.decode_export(streams, "stream", passthrough=["group"])))
    return dec.select(
        "group", F.element_at("fields", "MESSAGE").alias("message"),
        F.element_at("fields", "PRIORITY").alias("priority"),
        "ts", "tag", "entry_ok")


# ===========================================================================
# DSIR — data selection via importance resampling (Xie et al. 2023):
# hashed unigram+bigram features, target-vs-raw log-ratio model,
# deterministic Gumbel top-k resampling
# ===========================================================================

@q("dsir_select", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) > 0),
uni AS (SELECT doc_id, source,
               ('0x' || substring(md5(CAST(tok AS VARCHAR)), 1, 7))::BIGINT
                 % 512 AS bucket
        FROM (SELECT doc_id, source, unnest(tokens) AS tok FROM d)),
big AS (SELECT doc_id, source,
               ('0x' || substring(md5(CAST(tokens[i] AS VARCHAR) || ' ' ||
                                      CAST(tokens[i + 1] AS VARCHAR)),
                                  1, 7))::BIGINT % 512 AS bucket
        FROM (SELECT doc_id, source, tokens,
                     unnest(range(1, len(tokens))) AS i FROM d)),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
cq AS (SELECT bucket, count(*) AS cq FROM feats GROUP BY bucket),
cp AS (SELECT bucket, count(*) AS cp FROM feats WHERE doc_id % 7 = 0
       GROUP BY bucket),
tq AS (SELECT CAST(sum(cq) AS BIGINT) AS tq FROM cq),
tp AS (SELECT CAST(sum(cp) AS BIGINT) AS tp FROM cp),
m AS (SELECT bucket,
             CAST(round((ln((coalesce(cp, 0) + 1) / (tp + 512))
                         - ln((coalesce(cq, 0) + 1) / (tq + 512)))
                        * 1000) AS BIGINT) AS llr_milli
      FROM (SELECT r.range AS bucket, cp.cp, cq.cq
            FROM range(0, 512) r
            LEFT JOIN cp ON cp.bucket = r.range
            LEFT JOIN cq ON cq.bucket = r.range), tp, tq),
doc AS (SELECT doc_id, source,
               CAST(sum(llr_milli) AS BIGINT) AS llr_millinats,
               count(*) AS n_feat
        FROM feats JOIN m USING (bucket) GROUP BY doc_id, source),
sel AS (SELECT doc_id, source, llr_millinats, n_feat,
               llr_millinats + CAST(round(-ln(-ln(
                   ((('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                                            || ':dsir'), 1, 15))::BIGINT
                     + 0.5) / 1152921504606846976.0))) * 1000) AS BIGINT)
                 AS sel_key
        FROM doc)
SELECT doc_id, source, llr_millinats, n_feat, sel_key
FROM sel ORDER BY sel_key DESC, doc_id LIMIT 120
""")
def dsir_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/tokens.py dsir_select; Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): hash each document's unigrams+bigrams into 512
    buckets (portable md5 ladder), fit Laplace-smoothed bucket
    distributions for a deterministic target sample (doc_id % 7 == 0)
    vs the raw corpus, score every document by its exact-BIGINT
    milli-nat importance log-ratio, and Gumbel-top-k resample 120
    docs without replacement (Gumbel noise derived from
    md5(doc_id:seed) so the draw — and the oracle — is reproducible).
    The oracle replays the entire chain: feature hashing, K-row
    spine model, milli-nat rounding, per-doc sums, the Gumbel
    perturbation, and the top-k cut."""
    from .operators.tokens import dsir_select
    d = _tok_int_docs(spark, sf_dir)
    raw = d.select("doc_id", "source", "tokens")
    target = raw.filter(F.col("doc_id") % 7 == 0)
    return dsir_select(raw, target, n=120, n_buckets=512, seed="dsir")


# ===========================================================================
# Count-Min-Sketch heavy hitters (bounded-memory skew detection —
# the "which keys need salting" primitive)
# ===========================================================================

@q("cms_heavy_hitters", """
WITH keys AS (SELECT DISTINCT user_id FROM events),
rows_d AS (SELECT user_id, unnest(range(0, 4)) AS d FROM events),
cells AS (SELECT d,
                 ('0x' || substring(md5(CAST(d AS VARCHAR) || ':' ||
                                        CAST(user_id AS VARCHAR)),
                                    1, 7))::BIGINT % 128 AS bucket,
                 count(*) AS c
          FROM rows_d GROUP BY d, bucket),
probes AS (SELECT user_id, d,
                  ('0x' || substring(md5(CAST(d AS VARCHAR) || ':' ||
                                         CAST(user_id AS VARCHAR)),
                                     1, 7))::BIGINT % 128 AS bucket
           FROM (SELECT user_id, unnest(range(0, 4)) AS d FROM keys)),
est AS (SELECT p.user_id, CAST(min(c.c) AS BIGINT) AS est_count
        FROM probes p JOIN cells c USING (d, bucket)
        GROUP BY p.user_id),
tc AS (SELECT user_id, count(*) AS true_count FROM events
       GROUP BY user_id)
SELECT e.user_id, e.est_count, t.true_count,
       e.est_count >= t.true_count AS over_ok,
       e.est_count >= 40 AS is_heavy
FROM est e JOIN tc t USING (user_id)
""")
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimation (operators/aggregate.py
    count_min_table / cms_estimate / heavy_hitters_cms; Cormode &
    Muthukrishnan 2005): depth×width bounded sketch of the event
    user_id stream (width 128 forces real collisions at sf0.01's 150
    users), every distinct key point-queried, checked against exact
    counts for the one-sided guarantee (est >= true, ALWAYS — the
    oracle value-checks every estimate AND the guarantee flag), plus
    the >=40 heavy flag that feeds the salting decision."""
    from .operators.aggregate import heavy_hitters_cms
    ev = t(spark, sf_dir, "events")
    hh = heavy_hitters_cms(ev, "user_id", min_count=1,
                           width=128, depth=4)
    true = ev.groupBy("user_id").agg(F.count("*").alias("true_count"))
    return (hh.join(true, "user_id")
            .select("user_id", "est_count", "true_count",
                    (F.col("est_count") >= F.col("true_count"))
                    .alias("over_ok"),
                    (F.col("est_count") >= 40).alias("is_heavy")))


# ===========================================================================
# Corpus-audit statistics: Zipf rank/coverage table + Heaps vocab
# growth (the corpus-health dashboard layer)
# ===========================================================================

@q("zipf_coverage", f"""
WITH d AS (SELECT doc_id, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) > 0),
ex AS (SELECT unnest(tokens) AS tok FROM d),
f AS (SELECT tok, count(*) AS freq FROM ex GROUP BY tok),
tt AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM f),
r AS (SELECT tok, freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rank,
             CAST(sum(freq) OVER (ORDER BY freq DESC, tok
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM f)
SELECT rank, tok, CAST(freq AS BIGINT) AS freq,
       cum * 1000 // t AS cum_permille
FROM r, tt WHERE rank <= 50
""")
def zipf_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank/coverage audit (operators/tokens.py zipf_table): the
    top-50 token-frequency ranks with exact integer-permille
    cumulative mass — rank tiebreak by token id, cumulative sum and
    the permille both BIGINT-exact (DIV, engine-portable). The oracle
    replays frequency table, rank window, running sum, and the
    integer division."""
    from .operators.tokens import zipf_table
    d = _tok_int_docs(spark, sf_dir)
    return zipf_table(d, k=50)


@q("vocab_growth", f"""
WITH d AS (SELECT doc_id, {_TOK_IDS_SQL} AS tokens
           FROM documents WHERE len(string_split(text, ' ')) > 0),
ex AS (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                ::BIGINT % 1000 AS b,
              doc_id, unnest(tokens) AS tok FROM d),
pts AS (SELECT p.permille,
               count(DISTINCT CASE WHEN b < p.permille
                                   THEN doc_id END) AS docs,
               count(CASE WHEN b < p.permille THEN 1 END)
                 AS total_toks,
               count(DISTINCT CASE WHEN b < p.permille
                                   THEN tok END) AS distinct_toks
        FROM ex, (SELECT unnest([125, 250, 500, 1000])
                  AS permille) p
        GROUP BY p.permille)
SELECT CAST(permille AS BIGINT) AS permille,
       CAST(docs AS BIGINT) AS docs,
       CAST(total_toks AS BIGINT) AS total_toks,
       CAST(distinct_toks AS BIGINT) AS distinct_toks
FROM pts
""")
def vocab_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocab-growth audit (operators/tokens.py
    vocab_growth): distinct-token vs total-token counts over
    deterministic md5 permille fractions (monotone nested subsets) —
    sub-linear vocab growth is the natural-text shape; linear growth
    flags id leaks/noise. One explode + one multi-distinct agg; the
    oracle replays the hash bucketing and every conditional count."""
    from .operators.tokens import vocab_growth
    d = _tok_int_docs(spark, sf_dir)
    return vocab_growth(d)


# ===========================================================================
# Curriculum packing: quality-score -> easy-first deterministic order
# -> fixed-window pack (the final dataloader-ordering chain)
# ===========================================================================

@q("curriculum_pack", f"""
WITH d0 AS (SELECT doc_id, source, {{_TOK_IDS_SQL}} AS tokens,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents WHERE len(string_split(text, ' ')) > 0),
ex AS (SELECT doc_id, source, unnest(tokens) AS tok FROM d0),
f AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
tt AS (SELECT sum(c) AS t FROM f),
m AS (SELECT tok, CAST(round(-ln(c / t) * 1000) AS BIGINT) AS nll
      FROM f, tt),
sc AS (SELECT doc_id, source, CAST(sum(nll) AS BIGINT) AS nllm,
              count(*) AS ns
       FROM ex JOIN m USING (tok) GROUP BY doc_id, source),
d AS (SELECT d0.doc_id, d0.source, d0.tokens, d0.n_tok,
             (sc.nllm // sc.ns // 500) * {1 << 44}
             + ('0x' || substring(md5(CAST(d0.doc_id AS VARCHAR)),
                                  1, 11))::BIGINT AS okey
      FROM d0 JOIN sc ON d0.doc_id = sc.doc_id
                     AND d0.source = sc.source),
{{suffix}}
""".format(_TOK_IDS_SQL=_TOK_IDS_SQL,
           suffix=_pack_oracle_suffix(64, order_by="okey, doc_id")))
def curriculum_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered packing — the COMPOSED chain a training run
    reads last: self-trained unigram surprisal per doc
    (integer milli-nats), docs bucketed into 500-milli-nat mean-
    surprisal bands, concatenated easy-band-first with a portable
    md5 shuffle WITHIN each band (band*2^44 + 44-bit md5 prefix as
    the single integral order key, doc_id tiebreak), then packed into
    64-token windows. Every packed window's token ids and doc starts
    are md5 value-checked by the oracle, which replays the whole
    chain: frequency model, milli-nat rounding, band arithmetic
    (DIV — the NOTES #25 rule), order key, prefix sum, boundary
    splits. group_size is sized to the banded key DOMAIN (~2^50) per
    hash_order_bucket_width's contract, not the dense default."""
    from .operators.tokens import pack_sequences, unigram_surprisal
    d = _tok_int_docs(spark, sf_dir)
    sc = unigram_surprisal(d)
    dd = d.join(sc, ["doc_id", "source"])
    okey = (F.expr("nll_millinats DIV n_tok_scored DIV 500")
            * F.lit(1 << 44).cast("long")
            + F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 11), 16, 10).cast("long"))
    packed = pack_sequences(dd.withColumn("okey", okey),
                            ctx_len=64, id_col="doc_id",
                            order_col="okey", tiebreak_col="doc_id",
                            group_size=1 << 46)
    return _pack_select(packed)


@q("chunk_documents", f"""
WITH d AS (
  SELECT doc_id, {_TOK_IDS_SQL} AS tokens,
         len(string_split(text, ' ')) AS n_tok
  FROM documents WHERE len(string_split(text, ' ')) > 0),
e AS (
  SELECT doc_id, tokens, n_tok,
         unnest(generate_series(0,
           greatest(n_tok - 48, 0) // 32
           + CASE WHEN n_tok > 48 AND ((n_tok - 48) % 32) != 0
                  THEN 1 ELSE 0 END)) AS chunk_idx
  FROM d)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 32 AS BIGINT) AS chunk_start,
       CAST(least(48, n_tok - chunk_idx * 32) AS BIGINT) AS n_tok_chunk,
       chunk_idx * 32 + 48 >= n_tok AS is_tail,
       md5(array_to_string(list_transform(
           tokens[chunk_idx*32 + 1 :
                  chunk_idx*32 + least(48, n_tok - chunk_idx*32)],
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
FROM e
""")
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/tokens.py chunk_documents):
    48-token windows advancing by 32 (16-token overlap) WITHIN each
    document — the RAG-indexing / long-doc-eval chunking step, never
    crossing a doc boundary (pack_sequences is the cross-doc
    counterpart). MAP-ONLY: sequence-explode + slice, no shuffle; the
    oracle replays window count (integer ceil), offsets, tail
    clamping, and every chunk's token ids by md5 (token-array
    equality, the north-star per-row invariant)."""
    from .operators.tokens import chunk_documents
    d = _tok_int_docs(spark, sf_dir)
    c = chunk_documents(d, window=48, stride=32)
    return c.select(
        "doc_id", "chunk_idx", "chunk_start", "n_tok_chunk", "is_tail",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"))


@q("bm25_topk", """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents WHERE len(string_split(text, ' ')) > 0),
tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM d),
qr AS (SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'spark'), (CAST(1 AS BIGINT), 'join'),
  (CAST(1 AS BIGINT), 'shuffle'),
  (CAST(2 AS BIGINT), 'hash'), (CAST(2 AS BIGINT), 'merge'),
  (CAST(2 AS BIGINT), 'sort'),
  (CAST(3 AS BIGINT), 'customer'), (CAST(3 AS BIGINT), 'query'),
  (CAST(3 AS BIGINT), 'table')) AS v(query_id, term)),
ex AS (SELECT doc_id, dl, unnest(toks) AS tok FROM d),
tf AS (
  SELECT e.doc_id, e.dl, qr.query_id, e.tok, count(*) AS tf
  FROM ex e JOIN qr ON e.tok = qr.term
  GROUP BY e.doc_id, e.dl, qr.query_id, e.tok),
dft AS (
  SELECT tok, count(*) AS df_t
  FROM (SELECT DISTINCT doc_id, tok FROM tf) GROUP BY tok),
idf AS (
  SELECT tok, CAST(round(ln(CAST(2*n + 2 AS DOUBLE)
                            / CAST(2*df_t + 1 AS DOUBLE)) * 1000)
               AS BIGINT) AS idf_milli
  FROM dft, tot),
sc AS (
  SELECT tf.query_id, tf.doc_id,
         CAST(sum(idf.idf_milli *
             ((22000 * tf.tf * (tot.t // tot.n)) //
              (10 * tf.tf * (tot.t // tot.n)
               + 3 * (tot.t // tot.n) + 9 * tf.dl))) AS BIGINT)
           AS score_micro
  FROM tf JOIN idf USING (tok), tot
  GROUP BY tf.query_id, tf.doc_id)
SELECT query_id, doc_id, score_micro,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY score_micro DESC, doc_id) AS rank FROM sc)
WHERE rank <= 10
""")
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (operators/tokens.py bm25_topk): three
    bag-of-terms queries over the documents table (one with an
    absent-from-corpus term — the broadcast semi join drops it),
    k1=1.2/b=0.75 as exact rationals so the tf normalization is pure
    BIGINT, idf snapped to integer milli-nats (the surprisal NOTES #25
    posture). The oracle replays the whole integer chain — truncated
    avgdl, norm_milli DIV, idf rounding, rank ties on doc_id — so
    scores AND ranks are value-checked."""
    from .operators.tokens import bm25_topk
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    terms = [(1, "spark"), (1, "join"), (1, "shuffle"),
             (2, "hash"), (2, "merge"), (2, "sort"),
             (3, "customer"), (3, "query"), (3, "table")]
    qdf = spark.createDataFrame(terms, "query_id long, term string")
    return bm25_topk(d, qdf, k=10)


# ===========================================================================
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03) — the
# exact-guarantee document fingerprinter next to MinHash (SURVEY §2 ext.)
# ===========================================================================

_WINNOW_FP_SQL = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, i,
             ('0x' || substring(md5(array_to_string(ws[i+1:i+4], ' ')),
                                1, 15))::BIGINT AS h
      FROM d, unnest(range(len(ws) - 3)) t(i)),
w1 AS (SELECT doc_id, i, h,
              min(h) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                AS mn,
              count(*) OVER (PARTITION BY doc_id) AS m
       FROM g),
sel AS (SELECT a.doc_id, a.i AS win, max(b.i) AS p, a.mn AS v
        FROM w1 a JOIN g b
          ON b.doc_id = a.doc_id AND b.i BETWEEN a.i AND a.i + 3
         AND b.h = a.mn
        WHERE a.i <= a.m - 4
        GROUP BY a.doc_id, a.i, a.mn),
fp AS (SELECT DISTINCT doc_id, p, v FROM sel)
"""


@q("winnow_fingerprint_digest", _WINNOW_FP_SQL + """,
agg AS (SELECT doc_id, count(*) AS n_fp,
               md5(array_to_string(list_sort(
                 list(CAST(p AS VARCHAR) || ':' || CAST(v AS VARCHAR))),
                 ',')) AS fp_digest
        FROM fp GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.n_fp, 0) AS BIGINT) AS n_fp,
       coalesce(a.fp_digest, md5('')) AS fp_digest
FROM d LEFT JOIN agg a USING (doc_id)
""")
def winnow_fingerprint_digest(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators/tokens.py
    winnow_fingerprints — Schleimer et al. SIGMOD'03): k=4 word grams,
    window w=4, rightmost-minimum selection, all map-only inside one
    projection. The oracle re-derives the selection with SQL window
    functions (window min + rightmost-position tie-break) and
    value-checks the EXACT fingerprint set per document via a sorted
    pos:fp digest — selection positions, tie-breaks, and hash values
    all have to match bit-for-bit."""
    from .operators.tokens import winnow_fingerprints
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    fp = winnow_fingerprints(d, "doc_id", "tokens", k=4, w=4)
    agg = (fp.groupBy("doc_id")
           .agg(F.count("*").alias("n_fp"),
                F.md5(F.concat_ws(",", F.sort_array(F.collect_list(
                    F.concat_ws(":", F.col("pos").cast("string"),
                                F.col("fp").cast("string"))))))
                .alias("fp_digest")))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_fp", F.lit(0)).cast("long")
                    .alias("n_fp"),
                    F.coalesce("fp_digest", F.md5(F.lit("")))
                    .alias("fp_digest")))


@q("winnow_overlap_pairs", _WINNOW_FP_SQL + """,
fpd AS (SELECT DISTINCT doc_id, v FROM fp),
keepfp AS (SELECT v FROM fpd GROUP BY v HAVING count(*) <= 20)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*) AS shared_fp
FROM fpd a JOIN fpd b ON a.v = b.v AND a.doc_id < b.doc_id
WHERE a.v IN (SELECT v FROM keepfp)
GROUP BY 1, 2 HAVING count(*) >= 2
""")
def winnow_overlap_pairs_q(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Fingerprint-overlap candidate pairs (operators/tokens.py
    winnow_overlap_pairs): documents sharing >= 2 non-boilerplate
    winnowing fingerprints — the exact-guarantee sibling of the
    MinHash band join (a shared run of >= w+k-1 = 7 words ALWAYS
    collides). The frequency cap (fp in <= 20 docs) is the hot-key
    guard that bounds pair volume per fingerprint; the oracle
    reproduces derivation, cap, pairing, and threshold."""
    from .operators.tokens import winnow_overlap_pairs
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    return winnow_overlap_pairs(d, "doc_id", "tokens", k=4, w=4,
                                min_shared=2, max_fp_freq=20)


_BUDGET_ORD = ("cap_tokens // weight, "
               "((cap_tokens % weight) * 1000000) // weight, source")


@q("token_budget_fill", f"""
WITH u AS (SELECT source, text, count(*) AS n_docs
           FROM documents GROUP BY source, text),
s AS (SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS unique_tokens,
             CAST(sum(n_docs) AS BIGINT) AS weight
      FROM u GROUP BY source),
tot AS (SELECT CAST(sum(unique_tokens) AS BIGINT) AS ut,
               CAST(sum(weight) AS BIGINT) AS w_all FROM s),
base AS (SELECT s.*, unique_tokens * 1500 // 1000 AS cap_tokens,
                tot.w_all, tot.ut * 2 AS b
         FROM s, tot),
ord1 AS (SELECT *,
           CAST(coalesce(sum(weight) OVER w0, 0) AS BIGINT) AS cumw,
           CAST(coalesce(sum(cap_tokens) OVER w0, 0) AS BIGINT)
             AS cumcap
         FROM base
         WINDOW w0 AS (ORDER BY {_BUDGET_ORD}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
cnd AS (SELECT *, CASE WHEN cap_tokens * (w_all - cumw)
                            < weight * (b - cumcap)
                       THEN 1 ELSE 0 END AS cond
        FROM ord1),
cp AS (SELECT *,
         min(cond) OVER (ORDER BY {_BUDGET_ORD}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
           AS capped
       FROM cnd),
ct AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN cap_tokens END),
                            0) AS BIGINT) AS ccap,
              CAST(coalesce(sum(CASE WHEN capped THEN weight END),
                            0) AS BIGINT) AS cw
       FROM cp),
fin AS (SELECT cp.*, ct.ccap, ct.cw,
          greatest(0, CASE WHEN capped THEN cap_tokens
                           WHEN w_all > cw
                             THEN weight * (b - ccap) // (w_all - cw)
                           ELSE 0 END) AS alloc_tokens
        FROM cp, ct)
SELECT source, unique_tokens, weight,
       CAST(cap_tokens AS BIGINT) AS cap_tokens, capped,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       CAST(alloc_tokens * 1000 // unique_tokens AS BIGINT)
         AS epochs_milli
FROM fin
""")
def token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained token-budget allocation (operators/tokens.py
    allocate_token_budget — the Muennighoff et al. 2023 planning step):
    per-source unique tokens from an exact text dedup, mixture weights
    proportional to raw document counts, budget = 2x the corpus's
    unique tokens, per-source cap 1.5 epochs. Exact integer
    water-filling: the oracle replays the ratio-sorted capped-prefix
    test, the displaced-budget redistribution, and the DIV arithmetic
    bit-for-bit (NOTES #25 integer-DIV discipline throughout)."""
    from .operators.tokens import allocate_token_budget
    docs = t(spark, sf_dir, "documents")
    u = (docs.groupBy("source", "text")
         .agg(F.count("*").alias("n_docs")))
    s = (u.groupBy("source")
         .agg(F.sum(F.size(F.split("text", " "))).cast("long")
              .alias("unique_tokens"),
              F.sum("n_docs").cast("long").alias("weight")))
    # bounded collect: one BIGINT (the corpus unique-token total) to
    # parameterize the budget — same posture as the ANN query vector
    ut = s.agg(F.sum("unique_tokens")).collect()[0][0]
    return allocate_token_budget(s, budget_tokens=2 * int(ut),
                                 max_epochs_milli=1500)


# ===========================================================================
# Reciprocal Rank Fusion (Cormack et al. SIGIR'09) over a BM25 query
# ensemble — hybrid/expanded retrieval for RAG + decontamination
# ===========================================================================

_RRF_VARIANTS: dict[str, list[tuple[int, str]]] = {
    "full": [(1, "spark"), (1, "join"), (1, "shuffle"),
             (2, "hash"), (2, "merge"), (2, "sort")],
    "subset": [(1, "spark"), (2, "hash")],
    "expanded": [(1, "spark"), (1, "join"), (1, "shuffle"),
                 (1, "query"), (1, "table"),
                 (2, "hash"), (2, "merge"), (2, "sort"),
                 (2, "customer")],
}
_RRF_LIST_K, _RRF_K, _RRF_TOP_N = 10, 60, 5


def _bm25_chain_sql(suffix: str, terms: list[tuple[int, str]],
                    list_k: int) -> str:
    """One suffixed BM25 rank chain (same integer arithmetic as the
    proven bm25_topk oracle) over the shared d/tot/ex CTEs."""
    values = ", ".join(f"(CAST({q} AS BIGINT), '{t}')" for q, t in terms)
    s = suffix
    return f"""
qr_{s} AS (SELECT * FROM (VALUES {values}) AS v(query_id, term)),
tf_{s} AS (
  SELECT e.doc_id, e.dl, q.query_id, e.tok, count(*) AS tf
  FROM ex e JOIN qr_{s} q ON e.tok = q.term
  GROUP BY e.doc_id, e.dl, q.query_id, e.tok),
dft_{s} AS (
  SELECT tok, count(*) AS df_t
  FROM (SELECT DISTINCT doc_id, tok FROM tf_{s}) GROUP BY tok),
idf_{s} AS (
  SELECT tok, CAST(round(ln(CAST(2*n + 2 AS DOUBLE)
                            / CAST(2*df_t + 1 AS DOUBLE)) * 1000)
               AS BIGINT) AS idf_milli
  FROM dft_{s}, tot),
sc_{s} AS (
  SELECT tf.query_id, tf.doc_id,
         CAST(sum(idf.idf_milli *
             ((22000 * tf.tf * (tot.t // tot.n)) //
              (10 * tf.tf * (tot.t // tot.n)
               + 3 * (tot.t // tot.n) + 9 * tf.dl))) AS BIGINT)
           AS score_micro
  FROM tf_{s} tf JOIN idf_{s} idf USING (tok), tot
  GROUP BY tf.query_id, tf.doc_id),
r_{s} AS (
  SELECT query_id, doc_id, lrank FROM (
    SELECT query_id, doc_id, row_number() OVER (
      PARTITION BY query_id
      ORDER BY score_micro DESC, doc_id) AS lrank FROM sc_{s})
  WHERE lrank <= {list_k})"""


@q("rrf_hybrid_topk", """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents WHERE len(string_split(text, ' ')) > 0),
tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM d),
ex AS (SELECT doc_id, dl, unnest(toks) AS tok FROM d),"""
   + ",".join(_bm25_chain_sql(s, t, _RRF_LIST_K)
              for s, t in _RRF_VARIANTS.items()) + f""",
allr AS ({" UNION ALL ".join(
    f"SELECT query_id, doc_id, lrank FROM r_{s}"
    for s in _RRF_VARIANTS)}),
f AS (SELECT query_id, doc_id,
        CAST(sum(1000000 // ({_RRF_K} + lrank)) AS BIGINT) AS rrf_micro,
        count(*) AS n_systems
      FROM allr GROUP BY 1, 2)
SELECT query_id, doc_id, rrf_micro, n_systems,
       CAST(frank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY rrf_micro DESC, doc_id) AS frank FROM f)
WHERE frank <= {_RRF_TOP_N}
""")
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion over a BM25 query ensemble
    (operators/tokens.py rrf_fuse — Cormack et al. SIGIR'09): three
    formulations of each query (full terms, head-term subset,
    expanded terms) fused by Σ 1000000 DIV (60 + rank) in pure
    BIGINT. The three retrievals share ONE bm25 run via composite
    query ids (query·8 + variant): BM25's per-term df, idf, avgdl and
    dl are all variant-independent, so the composite run is
    score-identical to three separate runs while scanning the corpus
    once instead of three times — the plan-audit discipline applied
    to the ensemble (one explode + semi join + agg instead of three).
    The oracle replays all three BM25 integer chains separately AND
    the fusion arithmetic, so the composite-id equivalence itself is
    value-checked end to end."""
    from .operators.tokens import bm25_topk, rrf_fuse
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    composite = [(qid * 8 + vi, term)
                 for vi, terms in enumerate(_RRF_VARIANTS.values())
                 for qid, term in terms]
    qdf = spark.createDataFrame(composite, "query_id long, term string")
    hits = bm25_topk(d, qdf, k=_RRF_LIST_K)
    lists = [hits.filter(F.col("query_id") % 8 == vi)
             .withColumn("query_id", F.expr("query_id DIV 8"))
             for vi in range(len(_RRF_VARIANTS))]
    return rrf_fuse(lists, k=_RRF_K, top_n=_RRF_TOP_N)


@q("winnow_vs_corpus", _WINNOW_FP_SQL + """,
nfp AS (SELECT DISTINCT doc_id, v FROM fp WHERE doc_id % 2 = 1),
cfp AS (SELECT DISTINCT doc_id, v FROM fp WHERE doc_id % 2 = 0),
okf AS (SELECT v FROM cfp GROUP BY v HAVING count(*) <= 20),
m AS (SELECT n.doc_id AS nd, c.doc_id AS cd, count(*) AS shared
      FROM nfp n JOIN cfp c ON n.v = c.v
      WHERE n.v IN (SELECT v FROM okf)
      GROUP BY 1, 2 HAVING count(*) >= 2),
dropd AS (SELECT DISTINCT nd FROM m)
SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT nd FROM dropd)
""")
def winnow_vs_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing dedup against a maintained corpus
    fingerprint table (operators/tokens.py winnow_vs_corpus): even
    doc_ids play the corpus (their (id, fp) artifact prebuilt), odd
    ids the new batch; batch docs sharing >= 2 non-boilerplate
    fingerprints with any corpus doc are dropped. The oracle replays
    derivation, corpus-side frequency guard, cross-side pairing, and
    the anti-join — survivors value-checked row-for-row."""
    from .operators.tokens import winnow_corpus_fp, winnow_vs_corpus
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    corpus_fp = winnow_corpus_fp(
        toks.filter(F.col("doc_id") % 2 == 0), k=4, w=4)
    new = docs.filter(F.col("doc_id") % 2 == 1) \
        .withColumn("tokens", F.split("text", " "))
    surv = winnow_vs_corpus(new, corpus_fp, k=4, w=4, min_shared=2,
                            max_fp_freq=20)
    return surv.select("doc_id", "source",
                       F.length("text").cast("long").alias("n_chars"))


@q("fim_transform", f"""
WITH d AS (
  SELECT doc_id, source, {{TOK}} AS tokens,
         len(string_split(text, ' ')) AS n_tok
  FROM documents),
h AS (
  SELECT *, CAST(doc_id AS VARCHAR) || ':0' AS sid FROM d),
c AS (
  SELECT doc_id, source, tokens, n_tok,
         ('0x' || substring(md5(sid || ':fim?'), 1, 7))::BIGINT % 1000
           < 700 AND n_tok > 0 AS applied,
         ('0x' || substring(md5(sid || ':fim/spm'), 1, 7))::BIGINT
           % 1000 < 500 AS spm,
         ('0x' || substring(md5(sid || ':fim/a'), 1, 7))::BIGINT
           % (n_tok + 1) AS k1,
         ('0x' || substring(md5(sid || ':fim/b'), 1, 7))::BIGINT
           % (n_tok + 1) AS k2
  FROM h),
s AS (
  SELECT *, CAST(least(k1, k2) AS INT) AS lo,
         CAST(greatest(k1, k2) AS INT) AS hi
  FROM c),
o AS (
  SELECT doc_id, source,
         CASE WHEN NOT applied THEN 'none'
              WHEN spm THEN 'spm' ELSE 'psm' END AS fim_mode,
         CASE WHEN applied THEN CAST(lo AS BIGINT) END AS split_lo,
         CASE WHEN applied THEN CAST(hi AS BIGINT) END AS split_hi,
         CASE WHEN NOT applied THEN tokens
              WHEN spm THEN
                [50001, 50003] || tokens[hi+1:n_tok] || [50002]
                || tokens[1:lo] || tokens[lo+1:hi]
              ELSE
                [50001] || tokens[1:lo] || [50003]
                || tokens[hi+1:n_tok] || [50002] || tokens[lo+1:hi]
         END AS out
  FROM s)
SELECT doc_id, source, fim_mode, split_lo, split_hi,
       CAST(len(out) AS BIGINT) AS n_tok_out,
       md5(array_to_string(list_transform(out,
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
FROM o
""".format(TOK=_TOK_IDS_SQL))
def fim_transform_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (operators/tokens.py
    fim_transform; Bavarian et al. 2022): 70% of documents split at
    two portable uniform cut points into prefix/middle/suffix and
    re-serialized PSM or SPM (50/50) with sentinel tokens; the rest
    pass through. MAP-ONLY — md5 draws + three slices + concat in
    whole-stage codegen. The oracle replays every draw, both
    serialization orders, and the full output token stream by md5
    (token-array equality, the north-star per-row invariant)."""
    from .operators.tokens import fim_transform
    d = _tok_int_docs(spark, sf_dir)
    out = fim_transform(d, rate_permille=700, spm_permille=500, seed=0)
    return out.select(
        "doc_id", "source", "fim_mode", "split_lo", "split_hi",
        "n_tok_out",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"))


@q("bucket_batches", f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents WHERE len(string_split(text, ' ')) > 0),
b AS (
  SELECT *, ((n_tok + 31) // 32) * 32 AS bucket_len,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS k
  FROM d),
r AS (
  SELECT *, bucket_len > 256 AS oversize,
         bucket_len - n_tok AS pad_tok,
         row_number() OVER (PARTITION BY source, bucket_len
                            ORDER BY k, doc_id) - 1 AS off
  FROM b)
SELECT doc_id, source, CAST(bucket_len AS BIGINT) AS bucket_len,
       oversize, CAST(pad_tok AS BIGINT) AS pad_tok,
       CASE WHEN NOT oversize
            THEN CAST(off // (256 // bucket_len) AS BIGINT) END
         AS batch_idx,
       CASE WHEN NOT oversize
            THEN CAST(off % (256 // bucket_len) AS BIGINT) END
         AS pos_in_batch
FROM r
""")
def bucket_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed max-token batching (operators/tokens.py
    bucket_batches): pad-to-bucket (multiples of 32), 256-token batch
    budget, deterministic portable-hash order within each (source,
    bucket). The oracle replays bucket assignment, the off DIV cap
    batch arithmetic, per-doc padding share, and oversize routing via
    a window row_number — the small-scale equivalent of the
    distributed two-phase prefix count the operator actually runs."""
    from .operators.tokens import bucket_batches
    d = _tok_int_docs(spark, sf_dir)
    out = bucket_batches(d, max_tokens=256, bucket_rounding=32)
    return out.select("doc_id", "source", "bucket_len", "oversize",
                      "pad_tok", "batch_idx", "pos_in_batch")


@q("temperature_mixture", """
WITH d AS (SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot
        FROM d GROUP BY source),
nm AS (SELECT max(tot) AS nmax FROM tot),
w AS (SELECT source, tot,
             CAST(round(pow(tot / CAST(nmax AS DOUBLE), 0.5)
                        * 1048576) AS BIGINT) AS w
      FROM tot, nm),
ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum,
              CAST(sum(tot) AS BIGINT) AS corpus_tokens FROM w),
r AS (SELECT source, tot,
             (corpus_tokens // 4) * w // wsum AS target_tok,
             least(1000000,
                   ((corpus_tokens // 4) * w // wsum) * 1000000 // tot)
               AS ppm
      FROM w, ws)
SELECT d.source, CAST(max(r.ppm) AS BIGINT) AS ppm,
       CAST(max(r.target_tok) AS BIGINT) AS target_tok,
       count(*) AS docs_kept,
       CAST(sum(d.n_tok) AS BIGINT) AS toks_kept
FROM d JOIN r ON d.source = r.source
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
      % 1000000 < r.ppm
GROUP BY d.source
""")
def temperature_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (operators/tokens.py
    temperature_mixture; mT5/XLM-R alpha-sampling, alpha=0.5) toward a
    corpus/4 token budget: per-source weights n_s^alpha snapped to
    2^20 integers behind one round(pow), then pure-BIGINT targets and
    ppm rates with the md5 content-hash selection. The oracle replays
    the weight snap, the DIV chains, and the exact kept set."""
    from .operators.tokens import temperature_mixture
    d = (t(spark, sf_dir, "documents")
         .select("doc_id", "source",
                 F.size(F.split("text", " ")).alias("n_tok")))
    kept = temperature_mixture(
        d, budget_tokens=F.expr("corpus_tokens DIV 4"),
        alpha_permille=500)
    return (kept.groupBy("source")
            .agg(F.max("ppm").cast("long").alias("ppm"),
                 F.max("target_tok").cast("long").alias("target_tok"),
                 F.count("*").alias("docs_kept"),
                 F.sum("n_tok").cast("long").alias("toks_kept")))


@q("pack_masks", f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
  FROM documents WHERE len(string_split(text, ' ')) > 0),
o AS (
  SELECT *, CAST(coalesce(sum(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS off
  FROM d),
e AS (
  SELECT *, unnest(generate_series(off // 64,
                                   (off + n_tok - 1) // 64)) AS chunk_id
  FROM o),
p AS (
  SELECT source, chunk_id, off,
         least(n_tok, (chunk_id+1)*64 - off)
           - greatest(0, chunk_id*64 - off) AS piece_len
  FROM e),
c AS (
  SELECT source, chunk_id,
         CAST(sum(piece_len) AS BIGINT) AS L,
         list(off - chunk_id*64 ORDER BY off)
           FILTER (WHERE off >= chunk_id*64) AS starts
  FROM p GROUP BY source, chunk_id),
m AS (
  SELECT source, chunk_id, L,
         [0] || list_filter(coalesce(starts, []), s -> s > 0) || [L]
           AS b
  FROM c)
SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(b) - 1 AS BIGINT) AS n_segments,
       md5(array_to_string(flatten(list_transform(
           generate_series(1, len(b) - 1),
           j -> list_transform(generate_series(b[j] + 1, b[j+1]),
                               x -> CAST(j - 1 AS VARCHAR)))), ' '))
         AS seg_hash,
       md5(array_to_string(list_transform(flatten(list_transform(
           generate_series(1, len(b) - 1),
           j -> generate_series(0, b[j+1] - b[j] - 1))),
           x -> CAST(x AS VARCHAR)), ' ')) AS pos_hash
FROM m
""")
def pack_masks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-window attention metadata (operators/tokens.py
    pack_masks over pack_sequences at ctx=64): segment_ids numbering
    the documents inside each window (boundary continuations =
    segment 0) and position_ids resetting at every document start —
    the arrays a packed-attention dataloader feeds FlashAttention
    varlen. The oracle replays the pack chain's offsets, the run
    bounds, and both arrays element-for-element by md5. Note the
    token ARRAYS never matter here — only lengths/offsets — so the
    oracle works from piece lengths alone."""
    from .operators.tokens import pack_masks, pack_sequences
    d = _tok_int_docs(spark, sf_dir)
    packed = pack_sequences(d, ctx_len=64)
    out = pack_masks(packed)
    return out.select(
        "source", F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_segments",
        F.md5(F.concat_ws(" ", F.col("segment_ids")
                          .cast("array<string>"))).alias("seg_hash"),
        F.md5(F.concat_ws(" ", F.col("position_ids")
                          .cast("array<string>"))).alias("pos_hash"))


@q("hll_distinct", """
WITH d AS (SELECT DISTINCT doc_id, source FROM documents),
h AS (SELECT source,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT AS hh
      FROM d),
r AS (SELECT source, hh // 1125899906842624 AS bucket,
             CASE WHEN hh % 1125899906842624 = 0 THEN 51
                  ELSE 51 - length(bin(hh % 1125899906842624)) END
               AS rho
      FROM h),
regs AS (SELECT source, bucket, max(rho) AS m_rho
         FROM r GROUP BY source, bucket),
spine AS (SELECT s.source, g.bucket
          FROM (SELECT DISTINCT source FROM d) s,
               (SELECT unnest(generate_series(0, 1023)) AS bucket) g),
full_regs AS (
  SELECT spine.source, spine.bucket,
         coalesce(regs.m_rho, 0) AS m_rho
  FROM spine LEFT JOIN regs
    ON spine.source = regs.source AND spine.bucket = regs.bucket),
agg AS (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << (51 - m_rho)) AS BIGINT) AS s,
         CAST(sum(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_zero
  FROM full_regs GROUP BY source),
est AS (
  SELECT source, v_zero,
         (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
            + CAST(1.079 AS DOUBLE) / 1024))
           * 1048576 * power(CAST(2.0 AS DOUBLE), 51) / s AS raw
  FROM agg),
fin AS (
  SELECT source, v_zero,
         CAST(CASE WHEN raw <= 2560.0 AND v_zero > 0
              THEN round(1024 * ln(1024 / CAST(v_zero AS DOUBLE)))
              ELSE round(raw) END AS BIGINT) AS est_distinct
  FROM est),
ex AS (SELECT source, count(*) AS exact_distinct FROM d GROUP BY source)
SELECT f.source, f.est_distinct, f.v_zero,
       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
       abs(f.est_distinct - ex.exact_distinct) * 1000
         // ex.exact_distinct AS abs_err_permille
FROM fin f JOIN ex ON f.source = ex.source
""")
def hll_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (operators/aggregate.py
    hll_register_table/hll_estimate, p=10): per-source approximate
    doc_id cardinality vs the exact count, with the indicator sum as
    an EXACT BIGINT (2^(w+1)-scaled powers of two) so the only floats
    are the final alpha·m²/S and linear-counting expressions —
    identical IEEE literals in both engines. abs_err_permille is the
    accuracy audit (expected ~1.04/√1024 ≈ 33‰)."""
    from .operators.aggregate import approx_distinct_hll
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    est = approx_distinct_hll(docs, "doc_id", p=10,
                              group_cols=["source"])
    exact = (docs.distinct().groupBy("source")
             .agg(F.count("*").alias("exact_distinct")))
    j = est.join(exact, "source")
    return j.select(
        "source", "est_distinct", "v_zero", "exact_distinct",
        F.expr("abs(est_distinct - exact_distinct) * 1000 "
               "DIV exact_distinct").alias("abs_err_permille"))


@q("kn_surprisal", f"""
WITH d AS (SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
                  len(string_split(text, ' ')) AS n_tok
           FROM documents),
tpos AS (
  SELECT tokens[i] AS t1, tokens[i + 1] AS t2
  FROM (SELECT tokens, unnest(generate_series(1, len(tokens) - 1)) AS i
        FROM d WHERE doc_id % 2 = 0 AND len(tokens) >= 2) x),
gc AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS c
       FROM tpos GROUP BY t1, t2),
ctx AS (SELECT t1, CAST(sum(c) AS BIGINT) AS cc,
               CAST(count(*) AS BIGINT) AS n1f
        FROM gc GROUP BY t1),
cont AS (SELECT t2, CAST(count(*) AS BIGINT) AS n1b
         FROM gc GROUP BY t2),
nb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM gc),
sp AS (
  SELECT doc_id, source, tokens[i] AS t1, tokens[i + 1] AS t2
  FROM (SELECT doc_id, source, tokens,
               unnest(generate_series(1, len(tokens) - 1)) AS i
        FROM d WHERE len(tokens) >= 2) x),
j AS (
  SELECT sp.doc_id, sp.source,
         ctx.cc IS NOT NULL AND cont.n1b IS NOT NULL AS in_model,
         CAST(round(-ln((greatest(CAST(coalesce(gc.c, 0) AS DOUBLE)
             - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
             + CAST(0.75 AS DOUBLE) * CAST(ctx.n1f AS DOUBLE)
             * (CAST(cont.n1b AS DOUBLE) / CAST(nb.nbb AS DOUBLE)))
             / CAST(ctx.cc AS DOUBLE)) * 1000) AS BIGINT) AS nll
  FROM sp LEFT JOIN gc ON sp.t1 = gc.t1 AND sp.t2 = gc.t2
          LEFT JOIN ctx ON sp.t1 = ctx.t1
          LEFT JOIN cont ON sp.t2 = cont.t2
          CROSS JOIN nb)
SELECT doc_id, source,
       CAST(sum(CASE WHEN in_model THEN nll END) AS BIGINT)
         AS nll_millinats,
       CAST(sum(CASE WHEN in_model THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       CAST(sum(CASE WHEN in_model THEN 0 ELSE 1 END) AS BIGINT)
         AS n_unscored
FROM j GROUP BY doc_id, source
""")
def kn_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (operators/tokens.py
    kn_surprisal, D=0.75): model trained on HALF the corpus (even
    doc_ids) scores ALL of it — unseen pairs with known context and
    continuation score through the discount mass (the point of KN),
    pairs with an unknown side are unscored and audited. The oracle
    replays the pair/context/continuation/distinct-bigram counts and
    the one fixed-shape double probability expression per pair
    (literal-type rule NOTES #30: D-suffixed in Spark, CAST AS DOUBLE
    here)."""
    from .operators.tokens import kn_surprisal
    d = _tok_int_docs(spark, sf_dir)
    return kn_surprisal(d.filter(F.col("doc_id") % 2 == 0), d,
                        discount_milli=750)


@q("span_corrupt", f"""
WITH d AS (
  SELECT doc_id, source, {{TOK}} AS tokens,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents),
cells AS (
  SELECT doc_id, n_tok,
         unnest(generate_series(0, greatest((n_tok - 1) // 20, 0)))
           AS g
  FROM d),
dr AS (
  SELECT doc_id, n_tok, g,
         CAST(doc_id AS VARCHAR) || ':0:' || CAST(g AS VARCHAR) AS gk
  FROM cells),
cand AS (
  SELECT doc_id, g,
         CAST(2 + ('0x' || substring(md5(gk || ':sc/len'), 1, 7))
              ::BIGINT % 4 AS INT) AS l,
         ('0x' || substring(md5(gk || ':sc/off'), 1, 7))::BIGINT AS ho,
         ('0x' || substring(md5(gk || ':sc/use'), 1, 7))::BIGINT % 1000
           AS hu,
         least((g + 1) * 20, n_tok) - g * 20 AS cell_sz
  FROM dr),
sp0 AS (
  SELECT doc_id, g, l,
         CAST(g * 20 + ho % greatest(cell_sz - l + 1, 1) AS INT) AS s,
         hu < 800 AND cell_sz - l + 1 >= 1 AS use
  FROM cand),
sps AS (
  SELECT doc_id,
         coalesce(list(struct_pack(s := s, l := l) ORDER BY g)
                  FILTER (WHERE use), []) AS spans
  FROM sp0 GROUP BY doc_id),
built AS (
  SELECT d.doc_id, d.source, len(sps.spans) AS k,
         flatten(list_transform(generate_series(1, len(sps.spans)),
           j -> d.tokens[(CASE WHEN j = 1 THEN 0
                          ELSE sps.spans[j-1].s + sps.spans[j-1].l END)
                         + 1 : sps.spans[j].s]
                || [CAST(50100 + j - 1 AS INT)]))
         || d.tokens[(CASE WHEN len(sps.spans) = 0 THEN 0
                      ELSE sps.spans[len(sps.spans)].s
                           + sps.spans[len(sps.spans)].l END) + 1
                     : d.n_tok] AS inputs,
         flatten(list_transform(generate_series(1, len(sps.spans)),
           j -> [CAST(50100 + j - 1 AS INT)]
                || d.tokens[sps.spans[j].s + 1
                            : sps.spans[j].s + sps.spans[j].l]))
         || [CAST(50100 + len(sps.spans) AS INT)] AS targets
  FROM d JOIN sps ON d.doc_id = sps.doc_id)
SELECT doc_id, source, CAST(k AS BIGINT) AS n_spans,
       md5(array_to_string(list_transform(inputs,
           x -> CAST(x AS VARCHAR)), ' ')) AS in_hash,
       md5(array_to_string(list_transform(targets,
           x -> CAST(x AS VARCHAR)), ' ')) AS tgt_hash
FROM built
""".format(TOK=_TOK_IDS_SQL))
def span_corrupt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption transform (operators/tokens.py span_corrupt;
    Raffel et al. 2020, deterministic grid variant): 20-token cells,
    800-permille cell rate, spans 2..5, <extra_id_k>-style sentinels
    from 50100. MAP-ONLY HOF folds. The oracle replays every cell
    draw, span placement, sentinel numbering, and both output streams
    (inputs with spans collapsed to sentinels; targets as the
    sentinel-prefixed span concatenation closed by the final
    sentinel) by md5 — token-array equality on both sides of the
    objective."""
    from .operators.tokens import span_corrupt
    d = _tok_int_docs(spark, sf_dir)
    out = span_corrupt(d, grid=20, rate_permille=800, span_min=2,
                       span_max=5, seed=0)
    return out.select(
        "doc_id", "source", "n_spans",
        F.md5(F.concat_ws(" ", F.col("inputs").cast("array<string>")))
         .alias("in_hash"),
        F.md5(F.concat_ws(" ", F.col("targets").cast("array<string>")))
         .alias("tgt_hash"))


def _ul2_span_branch_sql(pred: str, grid: int, smin: int, smax: int,
                         mode_tok: int, name: str) -> str:
    """One UL2 span-corruption branch as a standalone SELECT over the
    CTE ``d`` (doc_id, source, tokens, n_tok): the span_corrupt chain
    (cell draws, placement, sentinel collapse) with the paradigm token
    prepended — parameterized so R and X reuse one generator."""
    rng = smax - smin + 1
    return f"""
SELECT b.doc_id, b.source, '{name}' AS denoiser,
       CAST(len(spans) AS BIGINT) AS n_spans,
       [CAST({mode_tok} AS INT)]
       || flatten(list_transform(generate_series(1, len(spans)),
            j -> tokens[(CASE WHEN j = 1 THEN 0
                         ELSE spans[j-1].s + spans[j-1].l END) + 1
                        : spans[j].s]
                 || [CAST(50100 + j - 1 AS INT)]))
       || tokens[(CASE WHEN len(spans) = 0 THEN 0
                  ELSE spans[len(spans)].s + spans[len(spans)].l END)
                 + 1 : n_tok] AS inputs,
       flatten(list_transform(generate_series(1, len(spans)),
         j -> [CAST(50100 + j - 1 AS INT)]
              || tokens[spans[j].s + 1 : spans[j].s + spans[j].l]))
       || [CAST(50100 + len(spans) AS INT)] AS targets
FROM (
  SELECT d.doc_id, d.source, d.tokens, d.n_tok,
         coalesce(sp.spans, []) AS spans
  FROM d LEFT JOIN (
    SELECT doc_id,
           list(struct_pack(s := s, l := l) ORDER BY g)
             FILTER (WHERE use) AS spans
    FROM (
      SELECT doc_id, g, l,
             CAST(g * {grid}
                  + ho % greatest(cell_sz - l + 1, 1) AS INT) AS s,
             hu < 800 AND cell_sz - l + 1 >= 1 AS use
      FROM (
        SELECT doc_id, g,
               CAST({smin} + ('0x' || substring(md5(gk || ':sc/len'),
                    1, 7))::BIGINT % {rng} AS INT) AS l,
               ('0x' || substring(md5(gk || ':sc/off'), 1, 7))
                 ::BIGINT AS ho,
               ('0x' || substring(md5(gk || ':sc/use'), 1, 7))
                 ::BIGINT % 1000 AS hu,
               least((g + 1) * {grid}, n_tok) - g * {grid} AS cell_sz
        FROM (
          SELECT doc_id, n_tok,
                 unnest(generate_series(0,
                   greatest((n_tok - 1) // {grid}, 0))) AS g,
                 CAST(doc_id AS VARCHAR) || ':0:'
                   || CAST(unnest(generate_series(0,
                        greatest((n_tok - 1) // {grid}, 0)))
                        AS VARCHAR) AS gk
          FROM d WHERE {pred}) cells) draws) sp0
    GROUP BY doc_id) sp ON d.doc_id = sp.doc_id
  WHERE {pred.replace("doc_id", "d.doc_id")}) b
"""


_UL2_ROUTE = ("('0x' || substring(md5(CAST(doc_id AS VARCHAR) "
              "|| ':0:ul2/mode'), 1, 7))::BIGINT % 1000")


@q("ul2_mixture", f"""
WITH d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents),
allb AS (
  {_ul2_span_branch_sql(f"{_UL2_ROUTE} < 334", 20, 2, 5, 50200, "R")}
  UNION ALL
  {_ul2_span_branch_sql(f"{_UL2_ROUTE} >= 667", 32, 8, 16, 50202,
                        "X")}
  UNION ALL
  SELECT doc_id, source, 'S' AS denoiser, CAST(1 AS BIGINT) AS n_spans,
         [CAST(50201 AS INT)] || tokens[1 : cut] || [CAST(50100 AS INT)]
           AS inputs,
         [CAST(50100 AS INT)] || tokens[cut + 1 : n_tok]
           || [CAST(50101 AS INT)] AS targets
  FROM (SELECT *,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                    || ':0:ul2/cut'), 1, 7))::BIGINT % (n_tok + 1)
                 AS INT) AS cut
        FROM d
        WHERE {_UL2_ROUTE} >= 334 AND {_UL2_ROUTE} < 667) s)
SELECT doc_id, source, denoiser, n_spans,
       md5(array_to_string(list_transform(inputs,
           x -> CAST(x AS VARCHAR)), ' ')) AS in_hash,
       md5(array_to_string(list_transform(targets,
           x -> CAST(x AS VARCHAR)), ' ')) AS tgt_hash
FROM allb
""")
def ul2_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 mixture-of-denoisers (operators/tokens.py ul2_mixture; Tay
    et al. 2022): deterministic R/S/X routing (334/333/333 permille),
    paradigm token prepended per branch, T5-short spans for R,
    8..16-token spans for X, PrefixLM cut for S. The oracle replays
    the route draw and all three branch constructions (two
    parameterized span-corrupt chains + the cut split) and both
    output streams by md5."""
    from .operators.tokens import ul2_mixture
    d = _tok_int_docs(spark, sf_dir)
    out = ul2_mixture(d, seed=0)
    return out.select(
        "doc_id", "source", "denoiser", "n_spans",
        F.md5(F.concat_ws(" ", F.col("inputs").cast("array<string>")))
         .alias("in_hash"),
        F.md5(F.concat_ws(" ", F.col("targets").cast("array<string>")))
         .alias("tgt_hash"))


@q("render_chat", f"""
WITH d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents WHERE len(string_split(text, ' ')) > 0),
r AS (
  SELECT doc_id, source,
         (n_tok - 1) // 12 + 1 AS k,
         flatten(list_transform(generate_series(0, (n_tok - 1) // 12),
           i -> [CAST(CASE WHEN i % 2 = 0 THEN 50301
                      ELSE 50302 END AS INT)]
                || tokens[i*12 + 1 : least(n_tok, (i+1)*12)]
                || [CAST(50303 AS INT)])) AS toks,
         flatten(list_transform(generate_series(0, (n_tok - 1) // 12),
           i -> [CAST(0 AS INT)]
                || list_transform(
                     tokens[i*12 + 1 : least(n_tok, (i+1)*12)],
                     x -> CAST(CASE WHEN i % 2 = 1 THEN 1 ELSE 0 END
                               AS INT))
                || [CAST(CASE WHEN i % 2 = 1 THEN 1 ELSE 0 END
                         AS INT)])) AS mask
  FROM d)
SELECT doc_id, source, CAST(k AS BIGINT) AS n_turns,
       CAST(len(toks) AS BIGINT) AS n_tok,
       CAST(list_sum(mask) AS BIGINT) AS n_loss,
       md5(array_to_string(list_transform(toks,
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash,
       md5(array_to_string(list_transform(mask,
           x -> CAST(x AS VARCHAR)), ' ')) AS mask_hash
FROM r
""")
def render_chat_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat rendering (operators/tokens.py render_chat):
    documents deterministically segmented into alternating
    user/assistant 12-token turns, serialized with role tags + EOT and
    the assistant-only loss mask. The oracle replays the turn
    construction, both streams, and the loss-token count by md5 —
    token-array equality on the rendered stream AND its mask."""
    from .operators.tokens import render_chat
    d = _tok_int_docs(spark, sf_dir).filter(F.col("n_tok") > 0)
    n = F.col("n_tok").cast("int")
    turns = F.expr(
        "transform(sequence(0, (n_tok - 1) DIV 12), i -> struct("
        "CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,"
        " slice(tokens, i*12 + 1, least(12, CAST(n_tok AS INT) - i*12))"
        " AS tokens))")
    conv = d.select("doc_id", "source", turns.alias("turns"))
    out = render_chat(conv)
    return out.select(
        "doc_id", "source", "n_turns", "n_tok", "n_loss",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"),
        F.md5(F.concat_ws(" ", F.col("loss_mask")
                          .cast("array<string>"))).alias("mask_hash"))


@q("remap_vocab", f"""
WITH d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens
  FROM documents WHERE len(string_split(text, ' ')) > 0),
ex AS (
  SELECT doc_id, source,
         unnest(generate_series(1, len(tokens))) AS pos, tokens
  FROM d),
et AS (SELECT doc_id, source, pos, tokens[pos] AS tok FROM ex),
freq AS (SELECT tok, count(*) AS c FROM et GROUP BY tok),
map AS (
  SELECT tok,
         CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS INT)
           AS new_id
  FROM freq WHERE c >= 2),
r AS (
  SELECT et.doc_id, et.source, et.pos,
         coalesce(map.new_id, 0) AS nid
  FROM et LEFT JOIN map ON et.tok = map.tok)
SELECT doc_id, source, count(*) AS n_tok,
       CAST(sum(CASE WHEN nid = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unk,
       md5(array_to_string(list_transform(list(nid ORDER BY pos),
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
FROM r GROUP BY doc_id, source
""")
def remap_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary compaction (operators/tokens.py remap_vocab,
    min_count=2): sub-threshold ids collapse to UNK=0, survivors
    renumber contiguously in (count desc, id asc) rank order. The
    oracle replays the frequency table, the rank, the per-position
    rewrite and the full remapped stream by md5."""
    from .operators.tokens import remap_vocab
    d = _tok_int_docs(spark, sf_dir).filter(F.col("n_tok") > 0)
    out = remap_vocab(d, min_count=2, unk_id=0)
    return out.select(
        "doc_id", "source", "n_tok", "n_unk",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"))


@q("sft_render_pack", f"""
WITH RECURSIVE base AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         CAST(len(string_split(text, ' ')) AS INT) AS n0
  FROM documents WHERE len(string_split(text, ' ')) > 0),
d AS (
  SELECT doc_id, source,
         flatten(list_transform(generate_series(0, (n0 - 1) // 12),
           i -> [CAST(CASE WHEN i % 2 = 0 THEN 50301
                      ELSE 50302 END AS INT)]
                || tokens[i*12 + 1 : least(n0, (i+1)*12)]
                || [CAST(50303 AS INT)])) AS tokens,
         n0 + 2 * ((n0 - 1) // 12 + 1) AS n_tok,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS k
  FROM base),
c AS (SELECT *, k // {1 << 56} AS cell FROM d),
fits AS (
  SELECT *, row_number() OVER (PARTITION BY source, cell
                               ORDER BY k, doc_id) AS rn
  FROM c WHERE n_tok <= 128),
walk AS (
  SELECT source, cell, rn, CAST(0 AS BIGINT) AS bin,
         CAST(n_tok AS BIGINT) AS fill
  FROM fits WHERE rn = 1
  UNION ALL
  SELECT s.source, s.cell, s.rn,
         CASE WHEN w.fill + s.n_tok <= 128 THEN w.bin
              ELSE w.bin + 1 END,
         CASE WHEN w.fill + s.n_tok <= 128 THEN w.fill + s.n_tok
              ELSE CAST(s.n_tok AS BIGINT) END
  FROM walk w JOIN fits s
    ON s.source = w.source AND s.cell = w.cell AND s.rn = w.rn + 1),
bins AS (
  SELECT f.source, f.cell, w.bin,
         count(*) AS n_docs,
         CAST(sum(f.n_tok) AS BIGINT) AS n_tok_bin,
         md5(array_to_string(list_transform(
             flatten(list(f.tokens ORDER BY f.rn)),
             x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
  FROM walk w JOIN fits f
    ON f.source = w.source AND f.cell = w.cell AND f.rn = w.rn
  GROUP BY f.source, f.cell, w.bin)
SELECT source,
       CAST(cell AS VARCHAR) || ':' || CAST(bin AS VARCHAR) AS bin_key,
       n_docs, n_tok_bin,
       CAST(128 - n_tok_bin AS BIGINT) AS pad,
       FALSE AS overlong, tok_hash
FROM bins
UNION ALL
SELECT source, 'L:' || CAST(doc_id AS VARCHAR) AS bin_key,
       CAST(1 AS BIGINT) AS n_docs, CAST(n_tok AS BIGINT) AS n_tok_bin,
       CAST(0 AS BIGINT) AS pad, TRUE AS overlong,
       md5(array_to_string(list_transform(tokens,
           x -> CAST(x AS VARCHAR)), ' ')) AS tok_hash
FROM c WHERE n_tok > 128
""")
def sft_render_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed SFT materialization chain (operators/tokens.py
    render_chat → pack_documents): conversations rendered with role
    tags + EOT and packed WHOLE into 128-token bins (SFT never splits
    a conversation; overlong ones route aside). One oracle replays
    the render arithmetic AND the greedy bin walk end-to-end,
    value-checking every bin's token stream by md5."""
    from .operators.tokens import pack_documents, render_chat
    d = _tok_int_docs(spark, sf_dir).filter(F.col("n_tok") > 0)
    turns = F.expr(
        "transform(sequence(0, (n_tok - 1) DIV 12), i -> struct("
        "CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,"
        " slice(tokens, i*12 + 1, least(12, CAST(n_tok AS INT) - i*12))"
        " AS tokens))")
    conv = d.select("doc_id", "source", turns.alias("turns"))
    rendered = render_chat(conv).drop("loss_mask", "n_loss", "n_turns")
    packed = pack_documents(rendered, ctx_len=128, cell_width=1 << 56)
    return packed.select(
        "source", "bin_key", "n_docs", "n_tok_bin", "pad", "overlong",
        F.md5(F.concat_ws(" ", F.col("tokens").cast("array<string>")))
         .alias("tok_hash"))


@q("decontaminate_spans", f"""
WITH d AS (
  SELECT doc_id, {_TOK_IDS_SQL} AS tokens,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents),
tw AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_transform(tokens[i : i + 15],
             x -> CAST(x AS VARCHAR)), ' ')) AS wkey
  FROM (SELECT doc_id, tokens,
               unnest(generate_series(1, n_tok - 15)) AS i
        FROM d WHERE doc_id % 20 != 0 AND n_tok >= 16) t),
bw AS (
  SELECT DISTINCT
         md5(array_to_string(list_transform(tokens[i : i + 15],
             x -> CAST(x AS VARCHAR)), ' ')) AS wkey
  FROM (SELECT tokens,
               unnest(generate_series(1, n_tok - 15)) AS i
        FROM d WHERE doc_id % 20 = 0 AND n_tok >= 16) b),
hits AS (
  SELECT tw.doc_id,
         CAST(sum(CASE WHEN bw.wkey IS NULL THEN 0 ELSE 1 END)
              AS BIGINT) AS n_hit_windows,
         CAST(min(CASE WHEN bw.wkey IS NOT NULL THEN tw.pos END)
              AS BIGINT) AS first_hit_pos
  FROM tw LEFT JOIN bw ON tw.wkey = bw.wkey
  GROUP BY tw.doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
       h.first_hit_pos,
       coalesce(h.n_hit_windows, 0) > 0 AS contaminated
FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 20 != 0
""")
def decontaminate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (operators/tokens.py
    decontaminate_spans, 16-token windows): every-20th document plays
    the held-out benchmark; training docs sharing ANY verbatim window
    with it are flagged with hit counts and the first hit position.
    The oracle replays both window sets, the key join, and the
    per-doc audit columns."""
    from .operators.tokens import decontaminate_spans
    d = _tok_int_docs(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    return decontaminate_spans(train, bench, length=16)


@q("ngram_repetition", f"""
WITH d AS (
  SELECT doc_id, source, {_TOK_IDS_SQL} AS tokens,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
g2 AS (
  SELECT doc_id, source, n_tok,
         array_to_string(list_transform(tokens[i : i + 1],
             x -> CAST(x AS VARCHAR)), ' ') AS gk
  FROM (SELECT doc_id, source, tokens, n_tok,
               unnest(generate_series(1, len(tokens) - 1)) AS i
        FROM d WHERE len(tokens) >= 2) t),
tp AS (
  SELECT doc_id, source,
         max(c) * 2 * 1000 // any_value(n_tok) AS top2
  FROM (SELECT doc_id, source, n_tok, gk, count(*) AS c
        FROM g2 GROUP BY doc_id, source, n_tok, gk) cc
  GROUP BY doc_id, source),
g5 AS (
  SELECT doc_id, source, n_tok, i - 1 AS pos,
         array_to_string(list_transform(tokens[i : i + 4],
             x -> CAST(x AS VARCHAR)), ' ') AS gk
  FROM (SELECT doc_id, source, tokens, n_tok,
               unnest(generate_series(1, len(tokens) - 4)) AS i
        FROM d WHERE len(tokens) >= 5) t),
c5 AS (SELECT doc_id, source, gk, count(*) AS c
       FROM g5 GROUP BY doc_id, source, gk),
cov AS (
  SELECT g5.doc_id, g5.source,
         count(DISTINCT ti) * 1000 // any_value(g5.n_tok) AS dup5
  FROM g5 JOIN c5 ON g5.doc_id = c5.doc_id
          AND g5.source = c5.source AND g5.gk = c5.gk,
       unnest(generate_series(g5.pos, g5.pos + 4)) AS u(ti)
  WHERE c5.c >= 2
  GROUP BY g5.doc_id, g5.source)
SELECT d.doc_id, d.source,
       CAST(coalesce(tp.top2, 0) AS BIGINT) AS top2_permille,
       CAST(coalesce(cov.dup5, 0) AS BIGINT) AS dup5_permille
FROM d LEFT JOIN tp ON d.doc_id = tp.doc_id AND d.source = tp.source
       LEFT JOIN cov ON d.doc_id = cov.doc_id
                    AND d.source = cov.source
""")
def ngram_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 n-gram repetition signals (operators/tokens.py
    ngram_repetition): most-frequent-2-gram token share and exact
    positional coverage of duplicated 5-grams, integer permilles.
    The oracle replays per-doc gram counts, the top share, and the
    overlap-once coverage union."""
    from .operators.tokens import ngram_repetition
    d = _tok_int_docs(spark, sf_dir)
    return ngram_repetition(d, top_n=2, dup_n=5)


@q("corpus_drift", f"""
WITH d AS (SELECT doc_id, {_TOK_IDS_SQL} AS tokens FROM documents),
fa AS (SELECT tok, count(*) AS c
       FROM (SELECT unnest(tokens) AS tok FROM d WHERE doc_id % 2 = 0)
       GROUP BY tok),
fb AS (SELECT tok, count(*) AS c
       FROM (SELECT unnest(tokens) AS tok FROM d WHERE doc_id % 2 = 1)
       GROUP BY tok),
ta AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM fa),
tb AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM fb),
ma AS (SELECT tok, c * 1000000 // t AS ppm FROM fa, ta),
mb AS (SELECT tok, c * 1000000 // t AS ppm FROM fb, tb),
j AS (SELECT coalesce(ma.tok, mb.tok) AS tok,
             CAST(coalesce(ma.ppm, 0) AS BIGINT) AS ppm_old,
             CAST(coalesce(mb.ppm, 0) AS BIGINT) AS ppm_new
      FROM ma FULL OUTER JOIN mb ON ma.tok = mb.tok),
jj AS (SELECT *, ppm_new - ppm_old AS delta_ppm FROM j),
tot AS (SELECT CAST(sum(abs(delta_ppm)) AS BIGINT) AS l1_drift_ppm
        FROM jj),
rk AS (SELECT *, row_number() OVER (ORDER BY abs(delta_ppm) DESC,
                                    tok ASC) AS r
       FROM jj)
SELECT tok, ppm_old, ppm_new, CAST(delta_ppm AS BIGINT) AS delta_ppm,
       tot.l1_drift_ppm
FROM rk, tot WHERE r <= 20
""")
def corpus_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift monitor (operators/tokens.py corpus_drift):
    even- vs odd-doc_id halves of the corpus play two crawl
    snapshots; exact-integer PPM unigram masses, the L1 drift scalar
    and the top-20 movers. The oracle replays both frequency tables,
    the DIV masses, the full-outer union, the scalar and the ranked
    movers."""
    from .operators.tokens import corpus_drift
    d = _tok_int_docs(spark, sf_dir)
    return corpus_drift(d.filter(F.col("doc_id") % 2 == 0),
                        d.filter(F.col("doc_id") % 2 == 1), k=20)
