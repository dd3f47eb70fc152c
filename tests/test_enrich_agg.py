"""Enrichment joins + aggregation operators (SURVEY.md §2.4, §2.6)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.operators.aggregate import (
    hopping, log_counter, log_histogram, salted_sink_aggregates,
    sp_aggregate, timeseries_forecast, tumbling,
)
from fluent_bit_spark.operators.enrich import (
    checklist_flag, checklist_keep, lookup_join,
)


def test_lookup_join_hit_and_miss(spark, fixture_paths):
    dim = spark.read.parquet(fixture_paths["lookup"])
    fact = spark.createDataFrame(
        [("a", "src0"), ("b", "src18")], ["doc_id", "source"])
    got = {r.doc_id: r for r in
           lookup_join(fact, dim, "source").collect()}
    assert got["a"].team is not None and got["a"].env is not None
    assert got["b"].team is None  # src18 absent → miss → null, row kept


def test_lookup_join_is_broadcast(spark, fixture_paths):
    dim = spark.read.parquet(fixture_paths["lookup"])
    fact = spark.createDataFrame([("a", "src0")], ["doc_id", "source"])
    plan = lookup_join(fact, dim, "source") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lookup_ignore_case(spark):
    dim = spark.createDataFrame([("SRC0", "t1")], ["source", "team"])
    fact = spark.createDataFrame([("src0",)], ["source"])
    assert lookup_join(fact, dim, "source",
                       ignore_case=True).collect()[0].team == "t1"


def test_checklist(spark):
    vals = spark.createDataFrame([("bad1",), ("bad2",)], ["ip"])
    fact = spark.createDataFrame([("bad1",), ("ok",)], ["ip"])
    got = {r.ip: r.matched for r in
           checklist_flag(fact, vals, "ip").collect()}
    assert got == {"bad1": True, "ok": False}
    assert checklist_keep(fact, vals, "ip").count() == 1


def test_salted_agg_equals_plain(spark, tokens_df):
    df = tokens_df.withColumn("tag", F.concat(F.lit("app."), "source"))
    plain = {r.tag: (r.c, r.s, r.d) for r in
             df.groupBy("tag").agg(
                 F.count("*").alias("c"), F.sum("n_tok").alias("s"),
                 F.count_distinct("source").alias("d")).collect()}
    for buckets in (1, 7, 32):
        salted = {r.tag: (r.records, r.sum_n_tok, r.distinct_sources)
                  for r in salted_sink_aggregates(
                      df, ["tag"], salt_buckets=buckets).collect()}
        assert salted == plain, buckets


def test_salted_agg_approx_mode(spark, tokens_df):
    df = tokens_df.withColumn("tag", F.lit("t"))
    row = salted_sink_aggregates(df, ["tag"],
                                 approx_distinct=True).collect()[0]
    assert row.records == tokens_df.count()
    assert 15 <= row.distinct_sources <= 25  # HLL approx of 20


def test_sp_aggregate_surface(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], ["k", "v"])
    row = {r.k: r for r in sp_aggregate(
        df, ["k"], {"n": ("count", "*"), "avg_v": ("avg", "v"),
                    "mx": ("max", "v"), "mn": ("min", "v"),
                    "sm": ("sum", "v")}).collect()}
    assert row["a"].n == 2 and row["a"].avg_v == 2.0 \
        and row["a"].mx == 3.0 and row["a"].sm == 4.0
    assert row["b"].mn == 10.0


def _events(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(minutes=m), "a", float(m))
            for m in range(0, 120, 10)]
    return spark.createDataFrame(rows, ["ts", "k", "v"])


def test_tumbling_window(spark):
    out = tumbling(_events(spark), "ts", "1 hour", ["k"]) \
        .agg(F.count("*").alias("n")).collect()
    got = {r.win.start: r.n for r in out}
    assert got == {dt.datetime(2024, 1, 1, 0): 6,
                   dt.datetime(2024, 1, 1, 1): 6}


def test_hopping_window(spark):
    out = hopping(_events(spark), "ts", "2 hours", "1 hour", ["k"]) \
        .agg(F.count("*").alias("n")).collect()
    got = {r.win.start: r.n for r in out}
    # windows [-1,1), [0,2), [1,3) containing events
    assert got[dt.datetime(2024, 1, 1, 0)] == 12
    assert got[dt.datetime(2023, 12, 31, 23)] == 6
    assert got[dt.datetime(2024, 1, 1, 1)] == 6


def test_timeseries_forecast_linear(spark):
    """y = 2x + 5 exactly → forecast is exact (matches upstream's
    least-squares TIMESERIES_FORECAST on clean data)."""
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(seconds=s), "a", 2.0 * s + 5.0)
            for s in range(0, 100, 10)]
    df = spark.createDataFrame(rows, ["ts", "k", "v"])
    row = timeseries_forecast(df, ["k"], "ts", "v", 60).collect()[0]
    # value at t = 90 + 60 = 150s → 2*150+5 relative to epoch offset
    x0 = base.replace(tzinfo=dt.timezone.utc).timestamp()
    expected = 2.0 * (x0 + 150) + (5.0 - 2.0 * x0)
    assert abs(row.forecast - expected) < 1e-3
    assert abs(row.slope - 2.0) < 1e-9


def test_log_counter_and_histogram(spark):
    df = spark.createDataFrame(
        [("a", 0.5), ("a", 5.0), ("a", 99.0), ("a", -3.0), ("a", 1000.0)],
        ["k", "v"])
    assert log_counter(df, ["k"]).collect()[0].value == 5
    got = {r.bucket: r.n for r in
           log_histogram(df, ["k"], "v", 0.0, 100.0, 10).collect()}
    assert got == {0: 2, 9: 1, -1: 1, 10: 1}  # under/overflow buckets


def test_salted_join_rejects_dim_duplicating_how(spark):
    """right/full outer would emit each unmatched dim row salt_buckets
    times (the dim side is replicated per bucket) — must raise."""
    import pytest as _pytest
    from fluent_bit_spark.operators.enrich import salted_join
    fact = spark.createDataFrame([("a", 1)], "k string, v int")
    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, w int")
    for bad in ("right", "full", "outer", "full_outer", "right_outer"):
        with _pytest.raises(ValueError):
            salted_join(fact, dim, "k", how=bad)
    # left outer is fact-preserving and allowed
    assert salted_join(fact, dim, "k", how="left").count() == 1


def test_dim_cache_ttl_semantics(spark, tmp_path):
    """DimCache: within TTL the pinned snapshot is reused (external
    rewrites invisible — upstream serves cached pod metadata until
    Kube_Meta_Cache_TTL lapses); past TTL resolve picks up the
    rewrite; ttl=0 refreshes every call; invalidate() forces it; the
    pinned snapshot stays readable after the source dir is
    OVERWRITTEN (the read-after-delete race a lazy frame has)."""
    from fluent_bit_spark.operators.enrich import DimCache, enrich_cached

    dim = str(tmp_path / "dim")
    spark.createDataFrame([("p1", "team-a"), ("p2", "team-b")],
                          "pod string, team string") \
        .write.mode("overwrite").parquet(dim)
    now = [0.0]
    cache = DimCache(dim, ttl_seconds=60.0, clock=lambda: now[0])
    fact = spark.createDataFrame([("p1",), ("p2",), ("p9",)],
                                 "pod string")

    out1 = {r.pod: r.team for r in
            enrich_cached(fact, cache, "pod").collect()}
    assert out1 == {"p1": "team-a", "p2": "team-b", "p9": None}
    assert cache.version == 1

    # external sync job rewrites the dim (overwrite deletes old files)
    spark.createDataFrame([("p1", "team-z"), ("p9", "team-new")],
                          "pod string, team string") \
        .write.mode("overwrite").parquet(dim)

    now[0] = 59.0   # within TTL: pinned snapshot, rewrite invisible
    out2 = {r.pod: r.team for r in
            enrich_cached(fact, cache, "pod").collect()}
    assert out2 == out1 and cache.version == 1

    now[0] = 60.0   # TTL lapsed: re-resolve sees the rewrite
    out3 = {r.pod: r.team for r in
            enrich_cached(fact, cache, "pod").collect()}
    assert out3 == {"p1": "team-z", "p2": None, "p9": "team-new"}
    assert cache.version == 2

    cache.invalidate()
    cache.resolve(spark)
    assert cache.version == 3

    always = DimCache(dim, ttl_seconds=0.0, clock=lambda: now[0])
    always.resolve(spark)
    always.resolve(spark)
    assert always.version == 2


def test_dim_cache_stream_enrichment_parity(spark, tmp_path):
    """Streaming face: enrich_cached inside foreachBatch. With ttl=0
    each micro-batch re-resolves — a dim rewrite between batches is
    visible to the next batch (the stream-static join replan
    posture); with ttl=inf every batch carries the first snapshot.
    Batch parity: each micro-batch's rows equal a batch lookup_join
    against the dim version live at that batch."""
    from fluent_bit_spark.operators.enrich import DimCache, enrich_cached

    dim = str(tmp_path / "dim")
    landing = tmp_path / "landing"
    landing.mkdir()
    spark.createDataFrame([("p1", "v1")], "pod string, team string") \
        .write.mode("overwrite").parquet(dim)
    for i in range(2):
        spark.createDataFrame([(f"d{i}", "p1")], "id string, pod string") \
            .coalesce(1).write.parquet(str(landing / f"f{i}"))

    def run(ttl):
        cache = DimCache(dim, ttl_seconds=ttl)
        seen = []

        def fb(batch_df, batch_id):
            rows = enrich_cached(batch_df, cache, "pod").collect()
            seen.extend((r.id, r.team) for r in rows)
            # the external sync job rewrites the dim AFTER the first
            # batch — deterministic because foreachBatch runs serially
            spark.createDataFrame([("p1", "v2")],
                                  "pod string, team string") \
                .write.mode("overwrite").parquet(dim)

        q = (spark.readStream.schema("id string, pod string")
             .option("maxFilesPerTrigger", 1)
             .parquet(f"{landing}/*")
             .writeStream.foreachBatch(fb)
             .option("checkpointLocation",
                     str(tmp_path / f"ck_{ttl}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return dict(seen), cache.version

    got0, v0 = run(0.0)
    assert got0 == {"d0": "v1", "d1": "v2"} and v0 == 2
    spark.createDataFrame([("p1", "v1")], "pod string, team string") \
        .write.mode("overwrite").parquet(dim)
    gotinf, vinf = run(float("inf"))
    assert gotinf == {"d0": "v1", "d1": "v1"} and vinf == 1


def test_cms_matches_pure_python_and_never_underestimates(spark):
    """count_min_table / cms_estimate vs a from-scratch python CMS:
    identical cells, identical estimates, and the one-sided guarantee
    (estimate >= true count for EVERY key) at a width small enough to
    force collisions."""
    import hashlib
    from collections import Counter

    from fluent_bit_spark.operators.aggregate import (
        cms_estimate, count_min_table,
    )
    W, D = 8, 3
    vals = (["hot"] * 20 + ["warm"] * 7 +
            [f"cold{i}" for i in range(15)])
    df = spark.createDataFrame([(v,) for v in vals], "k string")

    def bucket(d, k):
        return int(hashlib.md5(f"{d}:{k}".encode())
                   .hexdigest()[:7], 16) % W

    cells = Counter()
    for v in vals:
        for d in range(D):
            cells[(d, bucket(d, v))] += 1

    got_cells = {(r.d, r.bucket): r.c
                 for r in count_min_table(df, "k", width=W,
                                          depth=D).collect()}
    assert len(got_cells) == W * D          # zero-count spine complete
    for (d, b), c in got_cells.items():
        assert c == cells.get((d, b), 0), (d, b)

    keys = df.distinct()
    est = {r.k: r.est_count
           for r in cms_estimate(count_min_table(df, "k", width=W,
                                                 depth=D),
                                 keys, "k", width=W, depth=D).collect()}
    true = Counter(vals)
    for k, t in true.items():
        want = min(cells[(d, bucket(d, k))] for d in range(D))
        assert est[k] == want, k
        assert est[k] >= t, k               # one-sided, always


def test_cms_heavy_hitters_threshold_and_sampling(spark):
    """heavy_hitters_cms finds every key over the threshold (no false
    negatives — CMS overestimates); per-row sampling keeps heavy keys
    with near-1 probability and requires an explicit row id."""
    import pytest

    from fluent_bit_spark.operators.aggregate import heavy_hitters_cms
    rows = ([("hot", i) for i in range(200)]
            + [("warm", i) for i in range(40)]
            + [(f"cold{i}", i) for i in range(30)])
    df = spark.createDataFrame(rows, "k string, rid long")

    hh = {r.k for r in heavy_hitters_cms(df, "k", min_count=40,
                                         width=512, depth=4).collect()}
    assert {"hot", "warm"} <= hh            # no false negatives
    assert not any(k.startswith("cold") for k in hh) or len(hh) <= 4

    sampled = {r.k for r in heavy_hitters_cms(
        df, "k", min_count=100, width=512, depth=4,
        sample_permille=300, row_id_col="rid").collect()}
    assert "hot" in sampled                 # 200 rows at 30% — certain

    with pytest.raises(ValueError, match="row_id_col"):
        heavy_hitters_cms(df, "k", min_count=10,
                          sample_permille=100)


def test_cms_merge_is_cellwise_addition(spark):
    """Sketches of two corpora merged by union + re-agg equal the
    sketch of the union — the per-day rollup property."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.aggregate import count_min_table
    a = spark.createDataFrame([("x",), ("y",), ("x",)], "k string")
    b = spark.createDataFrame([("x",), ("z",)], "k string")
    W, D = 16, 2
    merged = (count_min_table(a, "k", width=W, depth=D)
              .unionByName(count_min_table(b, "k", width=W, depth=D))
              .groupBy("d", "bucket").agg(F.sum("c").alias("c")))
    whole = count_min_table(a.unionByName(b), "k", width=W, depth=D)
    g = {(r.d, r.bucket): r.c for r in merged.collect()}
    w = {(r.d, r.bucket): r.c for r in whole.collect()}
    assert g == w


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch
# ---------------------------------------------------------------------------


def test_hll_registers_match_pure_python(spark):
    """Bucket/rho derivation replayed in python (same md5 chain), and
    the register table is a complete 2^p spine per group."""
    import hashlib

    from fluent_bit_spark.operators.aggregate import hll_register_table
    keys = [("k%04d" % i, "g%d" % (i % 2)) for i in range(300)]
    df = spark.createDataFrame(keys, "k string, g string")
    regs = hll_register_table(df, "k", p=10, group_cols=["g"])
    got = {(r["g"], r["bucket"]): r["m_rho"] for r in regs.collect()}
    assert len(got) == 2 * 1024
    want: dict = {}
    for k, g in keys:
        h = int(hashlib.md5(k.encode()).hexdigest()[:15], 16)
        bucket, rem = h >> 50, h % (1 << 50)
        rho = 51 if rem == 0 else 51 - rem.bit_length()
        want[(g, bucket)] = max(want.get((g, bucket), 0), rho)
    for key, m in want.items():
        assert got[key] == m
    assert all(v == 0 for key, v in got.items() if key not in want)


def test_hll_estimate_accuracy_and_merge(spark):
    """Estimate within 5 standard errors (1.04/sqrt(m)) of truth at
    two cardinalities; merging split sketches equals the whole-set
    sketch exactly."""
    from fluent_bit_spark.operators.aggregate import (
        approx_distinct_hll, hll_estimate, hll_merge,
        hll_register_table)
    for n in (500, 20000):
        df = (spark.range(n)
              .select(F.concat(F.lit("u"), F.col("id")).alias("k")))
        est = approx_distinct_hll(df, "k", p=10).first()["est_distinct"]
        assert abs(est - n) / n < 5 * 1.04 / (1024 ** 0.5)
    df = (spark.range(5000)
          .select(F.concat(F.lit("u"), F.col("id")).alias("k"),
                  (F.col("id") % 2 == 0).alias("half")))
    a = hll_register_table(df.filter("half"), "k", p=10)
    b = hll_register_table(df.filter("not half"), "k", p=10)
    merged = hll_estimate(hll_merge(a, b), p=10).first()
    whole = hll_estimate(hll_register_table(df, "k", p=10),
                         p=10).first()
    assert merged["est_distinct"] == whole["est_distinct"]


def test_hll_distinct_query_matches_duckdb_oracle(spark, tmp_path):
    """The ``hll_distinct`` query and its DuckDB oracle agree row for
    row on both estimator branches: source ``big`` has 6000 distinct
    doc_ids (raw estimate, past 2.5·m = 2560), ``small`` has 300
    (linear counting)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluent_bit_spark.queries import ORACLE_SQL, QUERIES
    ids = [f"d{i}" for i in range(6300)]
    pq.write_table(pa.table({
        "doc_id": ids + ids[:50],             # duplicates count once
        "source": ["big"] * 6000 + ["small"] * 300 + ["big"] * 50}),
        str(tmp_path / "documents.parquet"))
    cols = ["source", "est_distinct", "v_zero", "exact_distinct",
            "abs_err_permille"]
    got = sorted(tuple(r[c] for c in cols) for r in
                 QUERIES["hll_distinct"](spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tmp_path / 'documents.parquet'}')")
    want = sorted(tuple(r) for r in con.execute(
        f"SELECT {', '.join(cols)} FROM ({ORACLE_SQL['hll_distinct']})"
    ).fetchall())
    assert got == want
    est = {r[0]: r[1] for r in got}
    assert abs(est["big"] - 6000) / 6000 < 5 * 1.04 / (1024 ** 0.5)
    assert {r[0]: r[3] for r in got} == {"big": 6000, "small": 300}


def test_hll_rejects_bad_p(spark):
    from fluent_bit_spark.operators.aggregate import hll_register_table
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        hll_register_table(df, "k", p=5)
