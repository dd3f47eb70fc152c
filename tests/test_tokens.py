"""Token-sequence operators (operators/tokens.py): distributed prefix
sum, sequence packing round-trip (token-array equality invariant),
n-gram decontamination, C4-style line dedup, mixture sampling."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from fluent_bit_spark.operators import tokens as TK


def test_exclusive_prefix_sum_matches_naive_window(spark):
    df = (spark.range(200)
          .withColumn("part", (F.col("id") % 3).cast("string"))
          .withColumn("val", (F.col("id") * 7) % 11 + 1))
    got = TK.exclusive_prefix_sum(df, "part", "id", "val", "off",
                                  group_size=16)
    w = (Window.partitionBy("part").orderBy("id")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = df.withColumn("off", F.coalesce(F.sum("val").over(w), F.lit(0)))
    assert (sorted(got.select("id", "off").collect())
            == sorted(want.select("id", "off").collect()))


def _with_numeric_id(tokens_df):
    return tokens_df.withColumn(
        "oid", F.substring("doc_id", 4, 12).cast("long"))


def test_pack_sequences_roundtrip_token_equality(spark, tokens_df):
    """The per-row invariant: packing preserves every token and its
    global order — concatenating chunks in chunk_id order reproduces
    the concatenation of the input docs in id order, per source."""
    d = _with_numeric_id(tokens_df.limit(1500))
    packed = TK.pack_sequences(d, ctx_len=128, id_col="oid",
                               group_size=64)
    got = {r["source"]: r["all"] for r in
           (packed.groupBy("source")
            .agg(F.flatten(F.transform(
                F.sort_array(F.collect_list(F.struct(
                    F.col("chunk_id").alias("o"),
                    F.col("tokens").alias("p")))),
                lambda s: s["p"])).alias("all"))).collect()}
    want = {r["source"]: r["all"] for r in
            (d.filter(F.col("n_tok") > 0).groupBy("source")
             .agg(F.flatten(F.transform(
                 F.sort_array(F.collect_list(F.struct(
                     F.col("oid").alias("o"),
                     F.col("tokens").alias("p")))),
                 lambda s: s["p"])).alias("all"))).collect()}
    assert got == want


def test_pack_sequences_chunk_sizes(spark, tokens_df):
    d = _with_numeric_id(tokens_df.limit(1500))
    packed = TK.pack_sequences(d, ctx_len=128, id_col="oid",
                               group_size=64).cache()
    last = packed.groupBy("source").agg(F.max("chunk_id").alias("mx"))
    non_tail = packed.join(
        last, ["source"]).filter(F.col("chunk_id") < F.col("mx"))
    # every non-tail chunk is exactly ctx_len and marked full
    assert non_tail.filter(
        (F.col("n_tok_chunk") != 128) | (~F.col("full"))).count() == 0
    # token conservation
    total_in = d.agg(F.sum("n_tok")).first()[0]
    total_out = packed.agg(F.sum("n_tok_chunk")).first()[0]
    assert total_in == total_out
    packed.unpersist()


def test_token_ngrams_enumeration(spark):
    df = spark.createDataFrame([(1, [10, 20, 30, 40])], "id int, tokens array<int>")
    got = [r["ngram"] for r in
           TK.token_ngrams(df, ["id"], "tokens", 2)
           .orderBy("ngram").collect()]
    assert got == ["10_20", "20_30", "30_40"]


def test_token_ngrams_short_docs_yield_nothing(spark):
    """Spark's sequence(1, stop) DESCENDS when stop < 1 — without the
    guard, a 2-token doc under n=3 emits negative-start slices."""
    df = spark.createDataFrame(
        [(1, [7, 8]), (2, [9]), (3, [])],
        "id int, tokens array<int>")
    assert TK.token_ngrams(df, ["id"], "tokens", 3).count() == 0


def test_decontaminate_flags_planted_overlap(spark):
    train = spark.createDataFrame(
        [("t1", [1, 2, 3, 4, 5]),       # contains bench gram 2_3_4
         ("t2", [9, 9, 9, 9]),          # clean
         ("t3", [0, 2, 3, 4, 0, 2, 3, 4])],  # gram twice
        "doc_id string, tokens array<int>")
    bench = spark.createDataFrame(
        [("b1", [2, 3, 4])], "doc_id string, tokens array<int>")
    hits = {r["doc_id"]: r["n_hits"] for r in
            TK.decontaminate(train, bench, n=3).collect()}
    assert hits == {"t1": 1, "t3": 2}


def test_line_dedup_drops_boilerplate_and_reassembles(spark):
    # line unit = 2 words; "a b" appears in 4 docs -> dropped (max_occ=2)
    docs = [("d1", "a b x y"), ("d2", "a b p q"),
            ("d3", "a b"), ("d4", "a b z w a b")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = {r["doc_id"]: r for r in
           TK.line_dedup(df, line_words=2, max_occ=2).collect()}
    assert out["d1"]["text"] == "x y" and out["d1"]["n_dropped"] == 1
    assert out["d2"]["text"] == "p q"
    # fully-boilerplate doc survives with empty text, not dropped
    assert out["d3"]["text"] == "" and out["d3"]["n_kept"] == 0
    # d4 has "a b" twice -> both occurrences dropped, middle kept in order
    assert out["d4"]["text"] == "z w" and out["d4"]["n_dropped"] == 2


def test_repetition_stats_fractions(spark):
    # lines (2 words): ["x y", "x y", "q r"] -> 3 lines, 2 distinct
    df = spark.createDataFrame([("d1", "x y x y q r")],
                               "doc_id string, text string")
    r = TK.repetition_stats(df, line_words=2).first()
    assert r["n_lines"] == 3 and r["n_distinct"] == 2
    assert abs(r["dup_line_frac"] - (1 - 2 / 3)) < 1e-9
    # dup chars: "x y" (3 chars) * 2 occurrences of 9 total chars
    assert abs(r["dup_char_frac"] - 6 / 9) < 1e-9


def test_mixture_sample_deterministic_and_budgeted(spark, tokens_df):
    d = tokens_df.limit(2000)
    kept = TK.mixture_sample(d, weight_pct=F.lit(20),
                             budget_tokens=F.expr("corpus_tokens DIV 2"))
    a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in
               TK.mixture_sample(d, weight_pct=F.lit(20),
                                 budget_tokens=F.expr("corpus_tokens DIV 2"))
               .select("doc_id").collect())
    assert a == b and len(a) > 0          # deterministic, non-empty
    # per-source kept tokens land near target = 20% * corpus/2 = 10% of
    # corpus (hash sampling is binomial; allow wide tolerance)
    corpus = d.agg(F.sum("n_tok")).first()[0]
    per_src = {r["source"]: r["kt"] for r in
               kept.groupBy("source").agg(F.sum("n_tok").alias("kt"))
               .collect()}
    for src, kt in per_src.items():
        target = corpus * 0.10
        assert kt < 3 * target
    # sampled set is a subset of the input
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert set(a) <= all_ids


def test_pack_hash_order_is_deterministic_shuffle(spark, tokens_df):
    """order_col=xxhash64(id) packs in deterministically shuffled
    corpus order: two runs agree chunk-for-chunk, tokens are conserved,
    and the chunk contents differ from id-order packing."""
    d = (_with_numeric_id(tokens_df.limit(800))
         .withColumn("hkey", F.xxhash64("doc_id")))
    def run():
        return TK.pack_sequences(d, ctx_len=128, id_col="oid",
                                 order_col="hkey", tiebreak_col="oid",
                                 group_size=1 << 40)
    a = {(r["source"], r["chunk_id"]): r["tokens"]
         for r in run().collect()}
    b = {(r["source"], r["chunk_id"]): r["tokens"]
         for r in run().collect()}
    assert a == b
    tok_in = d.agg(F.sum("n_tok")).first()[0]
    assert sum(len(v) for v in a.values()) == tok_in
    by_id = {(r["source"], r["chunk_id"]): r["tokens"]
             for r in TK.pack_sequences(d, ctx_len=128, id_col="oid",
                                        group_size=64).collect()}
    assert a != by_id


def test_pack_documents_nosplit_invariants(spark, tokens_df):
    """Non-splitting greedy packing: tokens conserved exactly, no
    packed bin exceeds ctx, every doc appears in exactly one bin, the
    greedy is tight (the first doc of bin b+1 would have overflowed
    bin b), and overlong docs ride through whole."""
    ctx = 96
    d = tokens_df.limit(600)
    out = TK.pack_documents(d, ctx_len=ctx).collect()
    in_rows = {r["doc_id"]: r["tokens"]
               for r in d.filter(F.size("tokens") > 0).collect()}
    # conservation: multiset of tokens per source is preserved
    tok_in = sum(len(v) for v in in_rows.values())
    tok_out = sum(len(r["tokens"]) for r in out)
    assert tok_in == tok_out
    for r in out:
        assert r["n_tok_bin"] == len(r["tokens"])
        if r["overlong"]:
            assert r["n_docs"] == 1 and r["n_tok_bin"] > ctx
            assert r["pad"] == 0
            assert r["tokens"] == in_rows[r["bin_key"][2:]]
        else:
            assert r["n_tok_bin"] <= ctx
            assert r["pad"] == ctx - r["n_tok_bin"]
    # bins are numbered contiguously from 0 within each (source, cell)
    # (exact greedy semantics are pinned doc-for-doc by
    # test_pack_documents_greedy_matches_reference_walk)
    from collections import defaultdict
    by_cell = defaultdict(set)
    for r in out:
        if not r["overlong"]:
            cell, b = r["bin_key"].rsplit(":", 1)
            by_cell[(r["source"], cell)].add(int(b))
    for bins in by_cell.values():
        assert sorted(bins) == list(range(len(bins)))
    # determinism
    out2 = TK.pack_documents(d, ctx_len=ctx).collect()
    assert sorted(map(str, out)) == sorted(map(str, out2))


def test_pack_documents_greedy_matches_reference_walk(spark):
    """Tiny corpus: pure-python greedy replay over the same md5 walk
    order reproduces the operator's bins doc-for-doc."""
    import hashlib
    rows = [(f"d{i:03d}", "s", list(range(i)), i) for i in range(1, 40)]
    d = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, "
              "n_tok int")
    ctx = 50
    out = {r["bin_key"]: r for r in
           TK.pack_documents(d, ctx_len=ctx).collect()}

    def key(i):
        return int(hashlib.md5(f"d{i:03d}".encode()).hexdigest()[:15], 16)
    walk = sorted((key(i), f"d{i:03d}", i) for i in range(1, 40))
    cell_of = {doc: k >> 56 for k, doc, _ in walk}
    bins, fill, cur = {}, {}, {}
    for k, doc, n in walk:
        c = cell_of[doc]
        if n > ctx:
            continue
        if c not in cur:
            cur[c], fill[c] = 0, 0
        if fill[c] + n > ctx:
            cur[c] += 1
            fill[c] = 0
        fill[c] += n
        bins.setdefault((c, cur[c]), []).append(doc)
    for (c, b), docs in bins.items():
        r = out[f"{c}:{b}"]
        assert r["n_docs"] == len(docs)
        assert r["n_tok_bin"] == sum(int(doc[1:]) for doc in docs)
    n_overlong = sum(1 for _, _, n in walk if n > ctx)
    assert sum(1 for r in out.values() if r["overlong"]) == n_overlong


def test_pack_long_docs_span_many_chunks(spark):
    """A document longer than several context windows splits across
    all of them in order; mixed with short docs the stream still
    round-trips exactly."""
    rows = [(1, "s", list(range(0, 300))),     # spans 5 ctx-64 windows
            (2, "s", list(range(300, 310))),
            (3, "s", list(range(310, 500))),   # spans 3 more
            (4, "t", list(range(1000, 1129)))]  # 129 tokens, 3 windows
    df = (spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
          .withColumn("n_tok", F.size("tokens")))
    packed = TK.pack_sequences(df, ctx_len=64, group_size=2)
    got = {r["source"]: r["all"] for r in
           (packed.groupBy("source")
            .agg(F.flatten(F.transform(
                F.sort_array(F.collect_list(F.struct(
                    F.col("chunk_id").alias("o"),
                    F.col("tokens").alias("p")))),
                lambda s: s["p"])).alias("all"))).collect()}
    assert got["s"] == list(range(500))
    assert got["t"] == list(range(1000, 1129))
    sizes = {(r["source"], r["chunk_id"]): r["n_tok_chunk"]
             for r in packed.collect()}
    # source s: 500 tokens -> 7 full + 1 tail of 52
    assert sorted(v for (s, _), v in sizes.items() if s == "s") \
        == [52] + [64] * 7
    # a doc spanning chunks contributes n_docs=1 to each
    nd = {(r["source"], r["chunk_id"]): r["n_docs"]
          for r in packed.collect()}
    assert nd[("t", 0)] == 1 and nd[("t", 2)] == 1


def test_prefix_sum_handles_negative_order_keys(spark):
    """Hash-derived order keys are signed; trunc-division range groups
    stay monotone for negatives (group 0 just spans (-g, g)), so the
    scan must equal the naive window on mixed-sign keys."""
    df = (spark.range(300)
          .withColumn("okey", F.col("id") * 37 % 501 - 250)
          .withColumn("part", (F.col("id") % 2).cast("string"))
          .withColumn("val", F.col("id") % 7 + 1))
    got = TK.exclusive_prefix_sum(df, "part", "okey", "val", "off",
                                  group_size=64, tiebreak_col="id")
    w = (Window.partitionBy("part").orderBy("okey", "id")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = df.withColumn("off", F.coalesce(F.sum("val").over(w), F.lit(0)))
    assert (sorted(got.select("id", "off").collect())
            == sorted(want.select("id", "off").collect()))


def test_pack_doc_starts_and_sep_token(spark):
    """doc_starts marks where each document begins inside a chunk;
    sep_token appends EOD before chunking (dataloader posture)."""
    rows = [(1, "s", [10, 11, 12]), (2, "s", [20, 21]),
            (3, "s", [30, 31, 32, 33])]
    df = (spark.createDataFrame(rows,
                                "doc_id long, source string, tokens array<int>")
          .withColumn("n_tok", F.size("tokens")))
    # no separator, ctx=4: stream = [10,11,12,20,21,30,31,32,33]
    got = {r["chunk_id"]: (list(r["tokens"]), list(r["doc_starts"]))
           for r in TK.pack_sequences(df, ctx_len=4).collect()}
    assert got[0] == ([10, 11, 12, 20], [0, 3])   # docs 1 and 2 start
    assert got[1] == ([21, 30, 31, 32], [1])      # doc 3 starts at 1
    assert got[2] == ([33], [])                   # continuation only
    # with sep=-1: stream = [10,11,12,-1,20,21,-1,30,31,32,33,-1]
    got2 = {r["chunk_id"]: (list(r["tokens"]), list(r["doc_starts"]))
            for r in TK.pack_sequences(df, ctx_len=4,
                                       sep_token=-1).collect()}
    assert got2[0] == ([10, 11, 12, -1], [0])
    assert got2[1] == ([20, 21, -1, 30], [0, 3])
    assert got2[2] == ([31, 32, 33, -1], [])


def test_hash_order_bucket_width_sizing():
    """Width sized to the int64 key domain: expected groups =
    rows / rows_per_group, clamped so DIV stays inside BIGINT."""
    w = TK.hash_order_bucket_width(1 << 40, rows_per_group=1 << 20)
    assert w == (1 << 64) // (1 << 20)  # ~2^20 groups of ~2^20 rows
    # tiny inputs clamp to 2^62 (>= 4 groups, BIGINT-safe)
    assert TK.hash_order_bucket_width(100) == 1 << 62
    assert TK.hash_order_bucket_width(0) == 1 << 62
    # 10^12 rows at the default: ~10^6 groups — totals table stays tiny
    groups = (1 << 64) // TK.hash_order_bucket_width(10**12)
    assert 10**5 < groups < 10**7


def test_prefix_sum_hash_order_with_domain_width_matches_naive(spark):
    """The hash-order path END TO END: xxhash64 keys over the full
    int64 domain, width from hash_order_bucket_width — result equals
    the naive global window, and the per-group totals frame is SMALL
    (the ADVICE r3 failure mode was one group per row, which regrows
    the single-task window and a corpus-sized broadcast)."""
    df = (spark.range(600)
          .withColumn("okey", F.xxhash64(F.col("id").cast("string")))
          .withColumn("part", (F.col("id") % 2).cast("string"))
          .withColumn("val", F.col("id") % 9 + 1))
    width = TK.hash_order_bucket_width(600, rows_per_group=64)
    got = TK.exclusive_prefix_sum(df, "part", "okey", "val", "off",
                                  group_size=width, tiebreak_col="id")
    w = (Window.partitionBy("part").orderBy("okey", "id")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = df.withColumn("off", F.coalesce(F.sum("val").over(w), F.lit(0)))
    assert (sorted(got.select("id", "off").collect())
            == sorted(want.select("id", "off").collect()))
    # group count ≈ rows / rows_per_group, NOT ≈ rows
    n_groups = (df.select(F.expr(f"okey DIV {width}").alias("g"))
                .distinct().count())
    assert n_groups <= 64, n_groups  # uniform hashes: ~10 expected


def test_unigram_surprisal_matches_pure_python(spark):
    """Milli-nat surprisal sums equal a pure-python unigram model, and
    rarer tokens always score a higher per-token surprisal."""
    import math
    from collections import Counter
    rows = [("d1", [1, 1, 2], "s1"), ("d2", [2, 3], "s1"),
            ("d3", [1], "s2")]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, "
                                     "source string")
    out = {r.doc_id: (r.nll_millinats, r.n_tok_scored)
           for r in TK.unigram_surprisal(df).collect()}
    cnt = Counter(t for _, toks, _ in rows for t in toks)
    tot = sum(cnt.values())
    nll = {t: round(-math.log(c / tot) * 1000) for t, c in cnt.items()}
    want = {d: (sum(nll[t] for t in toks), len(toks))
            for d, toks, _ in rows}
    assert out == want
    # token 3 (1 occurrence) must be more surprising than token 1 (3)
    assert nll[3] > nll[1] > 0


def test_unigram_surprisal_plan_is_jvm_only(spark, tokens_df):
    """Model join + total are broadcast, no cartesian blow-up, no
    Python boundary — the map-side shape that survives 10^12 rows."""
    out = TK.unigram_surprisal(tokens_df.limit(500))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_stratified_split_rates_and_determinism(spark):
    """Per-group holdout rates apply independently; assignment is a
    pure function of the key (partition-count invariant); unknown
    groups fall back to the default rate."""
    from fluent_bit_spark.operators.filters import stratified_split
    df = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "s_even").otherwise("s_odd")
         .alias("source"))
    out = stratified_split(df, "source", "doc_id",
                           {"s_even": 500}, default_permille=0)
    frac = {r.source: r.f for r in
            out.groupBy("source")
               .agg(F.avg(F.when(F.col("split") == "holdout", 1)
                          .otherwise(0)).alias("f")).collect()}
    assert abs(frac["s_even"] - 0.5) < 0.1    # ~50% of evens held out
    assert frac["s_odd"] == 0.0               # default 0 => all train
    # repartitioning must not move a single row across splits
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {(r.doc_id, r.split) for r in
         stratified_split(df.repartition(13), "source", "doc_id",
                          {"s_even": 500}, 0).collect()}
    assert a == b
    # map-only: no exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    import pytest as _pytest
    with _pytest.raises(ValueError, match="0..1000"):
        stratified_split(df, "source", "doc_id", {"s_even": 1500})


def test_tfidf_topk_matches_pure_python(spark):
    """Integer fixed-point TF-IDF equals a pure-python model, rank
    ties break deterministically by token id, rank caps at k."""
    from collections import Counter
    rows = [("d1", [1, 1, 1, 2]), ("d2", [2, 3]), ("d3", [3, 3, 4])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {(r.doc_id, r.rank): (r.tok, r.tf, r.score)
           for r in TK.tfidf_topk(df, k=2).collect()}
    n = len(rows)
    dfreq = Counter(t for _, toks in rows for t in set(toks))
    want = {}
    for d, toks in rows:
        tf = Counter(toks)
        scored = sorted(
            ((t, c, c * ((n * 1_000_000) // dfreq[t]))
             for t, c in tf.items()),
            key=lambda x: (-x[2], x[0]))[:2]
        for i, (t, c, s) in enumerate(scored, 1):
            want[(d, i)] = (t, c, s)
    assert got == want
    # rare token 4 (df=1) must out-score common token 3 (df=2) in d3
    assert got[("d3", 1)][0] == 4 or got[("d3", 1)][2] >= got[("d3", 2)][2]


def test_substring_dedup_spans_and_canonical_keep(spark):
    """Planted duplicated spans: the globally-first occurrence is kept
    intact, every other occurrence is scrubbed; overlapping marked
    windows merge (a shared 10-token span costs 10 tokens, not 3x8);
    docs shorter than the window are untouched."""
    S = list(range(100, 108))          # 8-token span shared by A, B, C
    T = list(range(200, 210))          # 10-token span shared by E, F
    rows = [
        (1, list(range(1, 5)) + S + list(range(13, 21))),      # canonical
        (2, list(range(31, 34)) + S + list(range(41, 48))),    # S scrubbed
        (3, S + S + [99]),                                     # both copies
        (4, [7, 8, 9]),                                        # too short
        (5, T + [55, 56, 57, 58, 59, 60, 61, 62]),             # canonical T
        (6, list(range(71, 79)) + T),                          # T scrubbed
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r for r in
           TK.substring_dedup(df, length=8, materialize=None).collect()}
    assert got[1]["tokens"] == rows[0][1] and got[1]["n_removed"] == 0
    assert got[2]["tokens"] == list(range(31, 34)) + list(range(41, 48))
    assert got[2]["n_removed"] == 8
    assert got[3]["tokens"] == [99] and got[3]["n_removed"] == 16
    assert got[4]["tokens"] == [7, 8, 9] and got[4]["n_removed"] == 0
    assert got[5]["tokens"] == rows[4][1] and got[5]["n_removed"] == 0
    # F: three overlapping duplicated windows (T at pos 9 has starts
    # 9, 10, 11) merge into one [9, 19) interval -> exactly 10 removed.
    assert got[6]["tokens"] == list(range(71, 79))
    assert got[6]["n_removed"] == 10


def test_substring_dedup_plan_is_jvm_only(spark):
    df = spark.createDataFrame(
        [(i, list(range(i, i + 12))) for i in range(20)],
        "doc_id long, tokens array<int>")
    out = TK.substring_dedup(df, length=8, materialize=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_substring_dedup_xxhash64_twin_equivalence(spark):
    """Production xxhash64 window key produces the IDENTICAL result to
    the portable md5 form (collisions aside, which this corpus can't
    produce) — same gating pattern as the dedup minhash twins."""
    rows = [(i, [int(x) for x in
                 ([7, 8, 9, 10, 11, 12, 13, 14] if i % 3 == 0 else [])
                 + list(range(i * 100, i * 100 + 12))])
            for i in range(1, 40)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    a = sorted(TK.substring_dedup(df, length=8, materialize=None,
                                  hash_fn="md5").collect())
    b = sorted(TK.substring_dedup(df, length=8, materialize=None,
                                  hash_fn="xxhash64").collect())
    assert a == b


def test_nb_quality_score_matches_pure_python(spark):
    """The closed-form NB fit must equal a from-scratch python
    computation of the smoothed log-odds weights and per-doc sums, and
    the decision must separate the planted classes."""
    import math
    docs = [
        ("g1", "good", "clean prose flows nicely here"),
        ("g2", "good", "clean prose reads nicely too"),
        ("b1", "junk", "spam spam buy buy click"),
        ("b2", "junk", "click spam buy now now"),
        ("m1", "unseen", "clean prose with spam inside"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, source string, "
                                     "text string")
    out = {r.doc_id: r for r in TK.nb_quality_score(
        df, F.col("source") == "good",
        id_cols=("doc_id", "source")).collect()}

    # pure-python model
    ca, cb = {}, {}
    for _, src, text in docs:
        for tok in text.split(" "):
            d = ca if src == "good" else cb
            d[tok] = d.get(tok, 0) + 1
            ca.setdefault(tok, 0), cb.setdefault(tok, 0)
    na, nb, v = sum(ca.values()), sum(cb.values()), len(ca)
    w = {t: round((math.log((ca[t] + 1.0) / (na + v))
                   - math.log((cb[t] + 1.0) / (nb + v))) * 1000)
         for t in ca}
    for doc_id, _, text in docs:
        want = sum(w[t] for t in text.split(" "))
        assert out[doc_id].llr_millinats == want, doc_id
        assert out[doc_id].n_tok == len(text.split(" "))
    assert out["g1"].pred and out["g2"].pred
    assert not out["b1"].pred and not out["b2"].pred


def test_backoff_surprisal_each_level_hand_computed(spark):
    """Stupid backoff fires the exact level ladder: trigram hit scores
    the trigram model alone; an unseen trigram with a seen bigram
    suffix scores bigram + 916; unigram-only scores unigram + 2*916;
    a full miss takes the OOV floor + 2*916. Audit counts split
    full/backed/oov correctly."""
    import math

    from fluent_bit_spark.operators.tokens import backoff_surprisal
    train = spark.createDataFrame(
        [("t1", "s", [1, 2, 3, 4])],
        "doc_id string, source string, tokens array<int>")
    score = spark.createDataFrame(
        [("a", "s", [1, 2, 3]),   # trigram (1,2,3) observed
         ("b", "s", [9, 2, 3]),   # backoff to bigram (2,3)
         ("c", "s", [9, 9, 3]),   # backoff to unigram (3)
         ("d", "s", [9, 9, 9]),   # OOV
         ("e", "s", [1, 2])],     # too short: no trigram position
        "doc_id string, source string, tokens array<int>")
    rows = {r.doc_id: r for r in
            backoff_surprisal(train, score, order=3).collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    nll1_3 = round(-math.log(1 / 4) * 1000)        # 1386
    # every train bigram/trigram is its context's only continuation
    assert rows["a"].nll_millinats == 0
    assert (rows["a"].n_full, rows["a"].n_oov) == (1, 0)
    assert rows["b"].nll_millinats == 0 + 916
    assert (rows["b"].n_full, rows["b"].n_oov) == (0, 0)
    assert rows["c"].nll_millinats == nll1_3 + 2 * 916
    assert rows["d"].nll_millinats == 20_000 + 2 * 916
    assert (rows["d"].n_full, rows["d"].n_oov) == (0, 1)
    for r in rows.values():
        assert r.n_scored == 1
    # broadcast fast path must agree exactly
    b = {r.doc_id: r.nll_millinats for r in
         backoff_surprisal(train, score, order=3,
                           broadcast_models=True).collect()}
    assert b == {k: v.nll_millinats for k, v in rows.items()}


def test_bigram_surprisal_hand_computed(spark):
    """Conditional bigram model, integer milli-nats, hand-checked:
    after token 1 the corpus continues with 2 twice and 3 once
    (context total 3), so nll(1,2) = -ln(2/3) and nll(1,3) = -ln(1/3);
    a deterministic always-followed pair scores exactly 0; sub-2-token
    docs drop out."""
    import math

    from fluent_bit_spark.operators.tokens import bigram_surprisal
    df = spark.createDataFrame(
        [("d1", "s", [1, 2]), ("d2", "s", [1, 2]), ("d3", "s", [1, 3]),
         ("d4", "s", [7]), ("d5", "s", [8, 9])],
        "doc_id string, source string, tokens array<int>")
    rows = {r.doc_id: r for r in bigram_surprisal(df).collect()}
    assert set(rows) == {"d1", "d2", "d3", "d5"}   # d4 has no pairs
    nll_12 = round(-math.log(2 / 3) * 1000)        # 405
    nll_13 = round(-math.log(1 / 3) * 1000)        # 1099
    assert rows["d1"].nll_millinats == nll_12 == rows["d2"].nll_millinats
    assert rows["d3"].nll_millinats == nll_13
    # 9 is the ONLY continuation of 8 → surprisal exactly 0
    assert rows["d5"].nll_millinats == 0
    assert rows["d5"].n_bigrams_scored == 1
    # broadcast fast path must agree exactly
    b = {r.doc_id: r.nll_millinats
         for r in bigram_surprisal(df, broadcast_model=True).collect()}
    assert b == {k: v.nll_millinats for k, v in rows.items()}


def test_dsir_matches_pure_python(spark):
    """dsir_logratio_model / dsir_score / dsir_select must equal a
    from-scratch python replay: hashed unigram+bigram buckets,
    Laplace-smoothed target/raw log-ratios in milli-nats, exact
    per-doc sums, Gumbel-perturbed top-k — and must prefer docs that
    look like the target sample."""
    import hashlib
    import math

    K = 64
    docs = [
        (1, "s", [5, 6, 5, 6]),       # target-ish content
        (2, "s", [5, 6, 6, 5]),
        (3, "s", [7, 8, 9, 10]),      # off-target content
        (4, "s", [7, 9, 8, 10]),
        (5, "s", [5, 6]),
        (6, "s", [11]),               # single token: no bigrams
    ]
    raw = spark.createDataFrame(
        docs, "doc_id long, source string, tokens array<int>")
    target = raw.filter(F.col("doc_id").isin(1, 2, 5))

    def bucket(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16) % K

    def feats(toks):
        out = [bucket(str(t)) for t in toks]
        out += [bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])]
        return out

    cq, cp = {}, {}
    for did, _, toks in docs:
        for b in feats(toks):
            cq[b] = cq.get(b, 0) + 1
            if did in (1, 2, 5):
                cp[b] = cp.get(b, 0) + 1
    tq, tp = sum(cq.values()), sum(cp.values())
    llr = {b: round((math.log((cp.get(b, 0) + 1) / (tp + K))
                     - math.log((cq.get(b, 0) + 1) / (tq + K))) * 1000)
           for b in range(K)}

    model = {r.bucket: r.llr_milli
             for r in TK.dsir_logratio_model(
                 raw, target, n_buckets=K).collect()}
    assert model == llr

    scored = {r.doc_id: r for r in TK.dsir_score(
        raw, TK.dsir_logratio_model(raw, target, n_buckets=K),
        n_buckets=K).collect()}
    for did, _, toks in docs:
        fs = feats(toks)
        assert scored[did].llr_millinats == sum(llr[b] for b in fs), did
        assert scored[did].n_feat == len(fs)
    # target-like docs outscore off-target docs
    assert min(scored[d].llr_millinats for d in (1, 2, 5)) > \
        max(scored[d].llr_millinats for d in (3, 4))

    sel = TK.dsir_select(raw, target, n=3, n_buckets=K,
                         seed="t").collect()
    assert len(sel) == 3
    for r in sel:
        h = int(hashlib.md5(f"{r.doc_id}:t".encode())
                .hexdigest()[:15], 16)
        g = round(-math.log(-math.log((h + 0.5) / 2.0 ** 60)) * 1000)
        assert r.sel_key == r.llr_millinats + g


def test_dsir_plan_is_jvm_only(spark):
    """The whole DSIR chain stays JVM-side: no Python-eval boundary in
    the selection plan."""
    raw = spark.createDataFrame(
        [(1, "s", [1, 2, 3]), (2, "s", [4, 5, 6])],
        "doc_id long, source string, tokens array<int>")
    plan = TK.dsir_select(
        raw, raw.filter(F.col("doc_id") == 1), n=1,
        n_buckets=32)._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "MapInArrow"):
        assert marker not in plan


def test_zipf_table_hand_computed(spark):
    """Rank by freq DESC with token tiebreak; cumulative permille is
    exact integer DIV of the running mass."""
    df = spark.createDataFrame(
        [("a", [1, 1, 1, 2, 2, 3]), ("b", [1, 2, 4])],
        "doc_id string, tokens array<int>")
    rows = {r.rank: r for r in TK.zipf_table(df, k=3).collect()}
    # freqs: 1->4, 2->3, 3->1, 4->1 ; total 9
    assert (rows[1].tok, rows[1].freq) == (1, 4)
    assert (rows[2].tok, rows[2].freq) == (2, 3)
    assert (rows[3].tok, rows[3].freq) == (3, 1)   # tiebreak 3 < 4
    assert rows[1].cum_permille == 4 * 1000 // 9
    assert rows[2].cum_permille == 7 * 1000 // 9
    assert rows[3].cum_permille == 8 * 1000 // 9
    assert len(rows) == 3                          # k cut


def test_vocab_growth_monotone_nested_fractions(spark):
    """Each permille point is a superset of smaller ones: docs,
    total_toks, distinct_toks all monotone; the 1000-point equals the
    full corpus exactly."""
    import hashlib
    docs = [(i, list(range(i % 7)) or [99]) for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, tokens array<int>")
    pts = {r.permille: r for r in TK.vocab_growth(df).collect()}
    assert sorted(pts) == [125, 250, 500, 1000]
    for a, b in [(125, 250), (250, 500), (500, 1000)]:
        assert pts[a].docs <= pts[b].docs
        assert pts[a].total_toks <= pts[b].total_toks
        assert pts[a].distinct_toks <= pts[b].distinct_toks
    assert pts[1000].docs == 200
    assert pts[1000].total_toks == sum(len(t) for _, t in docs)
    assert pts[1000].distinct_toks == len(
        {x for _, t in docs for x in t})
    # spot-check one fraction against the same md5 rule in python
    want = {d for d, _ in docs
            if int(hashlib.md5(str(d).encode()).hexdigest()[:7], 16)
            % 1000 < 250}
    assert pts[250].docs == len(want)


def test_chunk_documents_reference_walk(spark):
    """Chunk boundaries, tail clamping, and token content match a pure-
    Python sliding window for assorted lengths around the window size."""
    rows = [(i, list(range(100, 100 + n)), n)
            for i, n in enumerate([1, 5, 8, 9, 15, 16, 17, 24, 33])]
    df = spark.createDataFrame(
        rows, "doc_id long, tokens array<int>, n_tok int")
    got = {(r.doc_id, r.chunk_idx):
           (r.chunk_start, r.tokens, r.n_tok_chunk, r.is_tail)
           for r in TK.chunk_documents(df, window=8, stride=5).collect()}
    expect = {}
    for doc_id, toks, n in rows:
        starts = [0]
        while starts[-1] + 8 < n:
            starts.append(starts[-1] + 5)
        for i, s in enumerate(starts):
            piece = toks[s:s + 8]
            expect[(doc_id, i)] = (s, piece, len(piece), s + 8 >= n)
    assert got == expect


def test_chunk_documents_covers_every_token_and_overlap(spark, tokens_df):
    """Union of chunk spans covers [0, n_tok) for every doc, and
    consecutive chunks overlap by exactly window - stride (except the
    short tail)."""
    w, s = 12, 7
    c = TK.chunk_documents(tokens_df, window=w, stride=s)
    per_doc = (c.groupBy("doc_id")
               .agg(F.max(F.col("chunk_start") + F.col("n_tok_chunk"))
                    .alias("covered_end"),
                    F.count("*").alias("n_chunks"),
                    F.max("chunk_start").alias("last_start")))
    src = tokens_df.filter(F.col("n_tok") > 0).select("doc_id", "n_tok")
    j = per_doc.join(src, "doc_id").collect()
    assert j, "fixture produced no docs"
    for r in j:
        assert r.covered_end == r.n_tok
        assert r.last_start < r.n_tok
        # start of chunk i is exactly i*stride
        assert r.last_start == (r.n_chunks - 1) * s


def test_chunk_documents_rejects_gapping_stride(spark):
    df = spark.createDataFrame([(1, [1, 2, 3], 3)],
                               "doc_id long, tokens array<int>, n_tok int")
    import pytest
    with pytest.raises(ValueError, match="stride"):
        TK.chunk_documents(df, window=4, stride=5)


def test_chunk_documents_plan_is_map_only(spark, tokens_df):
    """No exchange in the plan — the operator must stay map-only."""
    c = TK.chunk_documents(tokens_df, window=16, stride=16)
    plan = c._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _bm25_reference(docs, queries, k=10):
    """Pure-python replay of the integer BM25 chain."""
    import math
    docs = [(i, t) for i, t in docs if t]
    n = len(docs)
    t_tot = sum(len(t) for _, t in docs)
    avgdl = t_tot // n
    terms = sorted({w for _, ws in queries for w in ws})
    dft = {w: sum(1 for _, t in docs if w in t) for w in terms}
    out = {}
    for qid, ws in queries:
        scores = []
        for doc_id, toks in docs:
            s = 0
            for w in set(ws):
                tf = toks.count(w)
                if not tf:
                    continue
                idf = round(math.log((2 * n + 2) / (2 * dft[w] + 1))
                            * 1000)
                norm = ((22000 * tf * avgdl)
                        // (10 * tf * avgdl + 3 * avgdl
                            + 9 * len(toks)))
                s += idf * norm
            if s:
                scores.append((-s, doc_id))
        scores.sort()
        for r, (neg, doc_id) in enumerate(scores[:k], 1):
            out[(qid, doc_id)] = (-neg, r)
    return out


def test_bm25_topk_matches_pure_python(spark):
    docs = [(i, f"w{j % 7} w{(i + j) % 5} common".split()[:1]
             + [f"w{(i * 3 + j) % 9}" for j in range(3 + i % 6)])
            for i, j in ((i, i) for i in range(40))]
    queries = [(1, ["w0", "w3"]), (2, ["w1", "absent"]), (3, ["common"])]
    qrows = [(qid, w) for qid, ws in queries for w in ws]
    ddf = spark.createDataFrame(docs, "doc_id long, tokens array<string>")
    qdf = spark.createDataFrame(qrows, "query_id long, term string")
    got = {(r.query_id, r.doc_id): (r.score_micro, r.rank)
           for r in TK.bm25_topk(ddf, qdf, k=10).collect()}
    assert got == _bm25_reference(docs, queries, k=10)


def test_bm25_topk_rejects_bad_k(spark):
    import pytest
    ddf = spark.createDataFrame([(1, ["a"])],
                                "doc_id long, tokens array<string>")
    qdf = spark.createDataFrame([(1, "a")], "query_id long, term string")
    with pytest.raises(ValueError, match="k must be positive"):
        TK.bm25_topk(ddf, qdf, k=0)


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. SIGMOD'03)
# ---------------------------------------------------------------------------


def _winnow_py(words, k=4, w=4):
    """Independent pure-python winnowing replay (rightmost-min rule)."""
    import hashlib
    m = len(words) - k + 1
    if m < w:
        return set()
    hs = [int(hashlib.md5(" ".join(words[i:i + k]).encode())
              .hexdigest()[:15], 16) for i in range(m)]
    sel = set()
    for j in range(m - w + 1):
        p, v = -1, 1 << 63
        for i in range(j, j + w):
            if hs[i] <= v:
                p, v = i, hs[i]
        sel.add((p, v))
    return sel


def test_winnow_matches_python_replay(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog today ok"),
        ("b", "alpha beta gamma delta alpha beta gamma delta alpha"),
        ("c", "one two three four five six seven eight nine ten"),
        ("d", "short doc"),                       # < k words: no grams
        ("e", "exactly four word doc"),           # m=1 < w: no windows
        ("f", "rep rep rep rep rep rep rep rep"),  # all-tie grams
    ]
    d = spark.createDataFrame(rows, "doc_id string, text string") \
        .select("doc_id", F.split("text", " ").alias("tokens"))
    out = TK.winnow_fingerprints(d, "doc_id", "tokens", k=4, w=4) \
        .collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _winnow_py(text.split(" ")), \
            doc_id


def test_winnow_density_and_gap_bound(spark):
    """SIGMOD'03 structural guarantees: at least one selection per
    window, so consecutive selected positions are <= w apart and the
    first/last selections cover the ends."""
    import random
    rng = random.Random(7)
    words = [f"w{rng.randrange(500)}" for _ in range(400)]
    d = spark.createDataFrame([("x", words)],
                              "doc_id string, tokens array<string>")
    k, w = 5, 8
    pos = sorted(r["pos"] for r in
                 TK.winnow_fingerprints(d, "doc_id", "tokens",
                                        k=k, w=w).collect())
    m = len(words) - k + 1
    assert pos[0] <= w - 1 and pos[-1] >= m - w
    assert all(b - a <= w for a, b in zip(pos, pos[1:]))
    # expected density ~ 2/(w+1); allow a loose band
    assert len(pos) / (m - w + 1) < 2 * 2 / (w + 1)


def test_winnow_is_map_only(spark):
    d = spark.createDataFrame([("a", ["x"] * 20)],
                              "doc_id string, tokens array<string>")
    plan = (TK.winnow_fingerprints(d, "doc_id", "tokens")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_winnow_overlap_guarantee(spark):
    """Any shared run of >= w+k-1 tokens MUST produce a shared
    fingerprint (the winnowing correctness theorem): plant a 7-word
    run (k=4, w=4) inside two otherwise-different documents and
    require the pair at min_shared=1."""
    shared = "lorem ipsum dolor sit amet consectetur adipiscing".split()
    a = [f"a{i}" for i in range(20)] + shared + [f"A{i}" for i in range(20)]
    b = [f"b{i}" for i in range(15)] + shared + [f"B{i}" for i in range(25)]
    c = [f"c{i}" for i in range(50)]
    d = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, tokens array<string>")
    pairs = TK.winnow_overlap_pairs(d, "doc_id", "tokens", k=4, w=4,
                                    min_shared=1, max_fp_freq=10) \
        .collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_winnow_freq_cap_drops_boilerplate(spark):
    """A fingerprint present in more than max_fp_freq docs never
    generates pairs (the hot-key guard)."""
    boiler = "terms of service apply to all users".split()
    docs = [(i, [f"u{i}x{j}" for j in range(10)] + boiler)
            for i in range(8)]
    d = spark.createDataFrame(docs, "doc_id long, tokens array<string>")
    pairs = TK.winnow_overlap_pairs(d, "doc_id", "tokens", k=4, w=4,
                                    min_shared=1, max_fp_freq=4) \
        .collect()
    assert pairs == []


# ---------------------------------------------------------------------------
# data-constrained token-budget allocation (water-filling)
# ---------------------------------------------------------------------------


def _waterfill_py(rows, budget, max_epochs_milli):
    """Independent python replay: exact rational water-filling."""
    from fractions import Fraction
    caps = {s: u * max_epochs_milli // 1000 for s, u, w in rows}
    ws = {s: w for s, u, w in rows}
    capped, remaining = set(), dict(ws)
    b = budget
    while True:
        wr = sum(remaining.values())
        if wr == 0:
            break
        t = Fraction(b, wr)
        newly = {s for s in remaining if Fraction(caps[s], ws[s]) < t}
        if not newly:
            break
        for s in newly:
            capped.add(s)
            b -= caps[s]
            del remaining[s]
    wr = sum(remaining.values())
    alloc = {}
    for s, u, w in rows:
        if s in capped:
            alloc[s] = caps[s]
        elif wr > 0:
            alloc[s] = max(0, w * b // wr)
        else:
            alloc[s] = 0
    return caps, capped, alloc


def test_token_budget_matches_waterfill_replay(spark):
    import random
    rng = random.Random(42)
    for trial in range(4):
        rows = [(f"s{i:02d}", rng.randrange(100, 5000),
                 rng.randrange(1, 50)) for i in range(12)]
        total = sum(u for _, u, _ in rows)
        for budget in (0, total // 2, 2 * total, 100 * total):
            d = spark.createDataFrame(
                rows, "source string, unique_tokens long, weight long")
            out = {r["source"]: r for r in
                   TK.allocate_token_budget(
                       d, budget, max_epochs_milli=2500).collect()}
            caps, capped, alloc = _waterfill_py(rows, budget, 2500)
            for s, u, w in rows:
                r = out[s]
                assert r["cap_tokens"] == caps[s], (trial, budget, s)
                assert r["capped"] == (s in capped), (trial, budget, s)
                assert r["alloc_tokens"] == alloc[s], (trial, budget, s)
                assert r["alloc_tokens"] <= caps[s]
                assert r["epochs_milli"] <= 2500
            got = sum(r["alloc_tokens"] for r in out.values())
            cap_total = sum(caps.values())
            assert got <= min(budget, cap_total)
            if budget <= cap_total:
                # DIV remainder only: < 1 token per uncapped source
                n_uncapped = sum(1 for s, _, _ in rows
                                 if s not in capped)
                assert budget - got <= max(n_uncapped, 0)


def test_token_budget_all_capped_when_budget_exceeds_capacity(spark):
    rows = [("a", 1000, 1), ("b", 2000, 1)]
    d = spark.createDataFrame(
        rows, "source string, unique_tokens long, weight long")
    out = {r["source"]: r for r in
           TK.allocate_token_budget(d, 10**9,
                                    max_epochs_milli=4000).collect()}
    assert all(r["capped"] for r in out.values())
    assert out["a"]["alloc_tokens"] == 4000
    assert out["b"]["alloc_tokens"] == 8000
    assert out["a"]["epochs_milli"] == 4000


# ---------------------------------------------------------------------------
# reciprocal rank fusion (Cormack et al. SIGIR'09)
# ---------------------------------------------------------------------------


def test_rrf_fuse_matches_python_replay(spark):
    import pytest as _pytest
    lists = [
        # (query, doc, rank) — doc 'b' ranked by all three systems,
        # 'a' by two, 'z' by one
        [(1, "a", 1), (1, "b", 2), (1, "c", 3)],
        [(1, "b", 1), (1, "a", 2), (1, "d", 3)],
        [(1, "b", 1), (1, "z", 2)],
        ]
    dfs = [spark.createDataFrame(
        rows, "query_id long, doc_id string, rank long")
        for rows in lists]
    out = TK.rrf_fuse(dfs, k=60, top_n=10).collect()
    exp = {}
    for rows in lists:
        for _, doc, r in rows:
            exp.setdefault(doc, [0, 0])
            exp[doc][0] += 1_000_000 // (60 + r)
            exp[doc][1] += 1
    got = {r["doc_id"]: (r["rrf_micro"], r["n_systems"]) for r in out}
    assert got == {d: tuple(v) for d, v in exp.items()}
    order = [r["doc_id"] for r in
             sorted(out, key=lambda r: r["rank"])]
    assert order == sorted(exp, key=lambda d: (-exp[d][0], d))
    assert order[0] == "b"   # consensus doc wins
    with _pytest.raises(ValueError):
        TK.rrf_fuse([], k=60)
    with _pytest.raises(ValueError):
        TK.rrf_fuse(dfs, k=0)


def test_rrf_fuse_tiebreak_and_topn(spark):
    # two docs with identical fused scores tie-break on doc_id asc
    a = spark.createDataFrame([(1, "x", 1), (1, "y", 2)],
                              "query_id long, doc_id string, rank long")
    b = spark.createDataFrame([(1, "y", 1), (1, "x", 2)],
                              "query_id long, doc_id string, rank long")
    out = sorted(TK.rrf_fuse([a, b], k=60, top_n=1).collect(),
                 key=lambda r: r["rank"])
    assert len(out) == 1 and out[0]["doc_id"] == "x"


def test_winnow_vs_corpus_drop_keep_and_hot_guard(spark):
    shared = "lorem ipsum dolor sit amet consectetur adipiscing".split()
    boiler = "terms of service apply to everyone here now".split()
    corpus_rows = [(0, [f"c{i}" for i in range(10)] + shared + boiler)]
    corpus_rows += [(2 + 2 * i, [f"k{i}x{j}" for j in range(10)] + boiler)
                    for i in range(6)]   # boiler fp in 7 corpus docs
    corpus = spark.createDataFrame(
        corpus_rows, "doc_id long, tokens array<string>")
    cfp = TK.winnow_corpus_fp(corpus, k=4, w=4)
    new = spark.createDataFrame([
        (1, [f"n{i}" for i in range(8)] + shared),   # dup of corpus 0
        (3, [f"f{i}" for i in range(20)]),           # fresh
        (5, [f"g{i}" for i in range(12)] + boiler),  # only hot fps
    ], "doc_id long, tokens array<string>")
    surv = TK.winnow_vs_corpus(new, cfp, k=4, w=4, min_shared=1,
                               max_fp_freq=4)
    assert {r["doc_id"] for r in surv.collect()} == {3, 5}


def test_winnow_artifact_append_is_exact(spark):
    """artifact(corpus ∪ batch) == artifact(corpus) ∪ artifact(batch)
    — fingerprints are per-doc, so delta appends are exact by
    construction (no re-estimation, unlike MinHash sigs)."""
    import random
    rng = random.Random(3)
    mk = lambda n: [f"w{rng.randrange(200)}" for _ in range(n)]
    corpus = [(i, mk(30)) for i in range(10)]
    batch = [(100 + i, mk(25)) for i in range(5)]
    c = spark.createDataFrame(corpus, "doc_id long, tokens array<string>")
    b = spark.createDataFrame(batch, "doc_id long, tokens array<string>")
    u = spark.createDataFrame(corpus + batch,
                              "doc_id long, tokens array<string>")
    rebuilt = {(r["doc_id"], r["fp"]) for r in
               TK.winnow_corpus_fp(u).collect()}
    appended = {(r["doc_id"], r["fp"]) for r in
                TK.winnow_corpus_fp(c).unionByName(
                    TK.winnow_corpus_fp(b)).collect()}
    assert rebuilt == appended


# ---------------------------------------------------------------------------
# fill-in-the-middle transform
# ---------------------------------------------------------------------------


def test_fim_reconstruction_and_conservation(spark, tokens_df):
    """Un-rotating every transformed row reproduces the original token
    array exactly; untransformed rows pass through byte-identical;
    transformed rows gain exactly the 3 sentinels."""
    d = tokens_df.limit(400)
    orig = {r["doc_id"]: r["tokens"]
            for r in d.select("doc_id", "tokens").collect()}
    out = TK.fim_transform(d, rate_permille=700, spm_permille=500,
                           seed=0).collect()
    n_fim = 0
    for r in out:
        want = orig[r["doc_id"]]
        if r["fim_mode"] == "none":
            assert r["tokens"] == want and r["split_lo"] is None
            continue
        n_fim += 1
        assert r["n_tok_out"] == len(want) + 3
        toks, lo, hi = r["tokens"], r["split_lo"], r["split_hi"]
        n_mid, n_suf = hi - lo, len(want) - hi
        if r["fim_mode"] == "psm":
            # [PRE] prefix [SUF] suffix [MID] middle
            assert toks[0] == 50001
            prefix = toks[1:1 + lo]
            assert toks[1 + lo] == 50003
            suffix = toks[2 + lo:2 + lo + n_suf]
            assert toks[2 + lo + n_suf] == 50002
            middle = toks[3 + lo + n_suf:]
        else:
            # [PRE] [SUF] suffix [MID] prefix middle
            assert toks[0] == 50001 and toks[1] == 50003
            suffix = toks[2:2 + n_suf]
            assert toks[2 + n_suf] == 50002
            prefix = toks[3 + n_suf:3 + n_suf + lo]
            middle = toks[3 + n_suf + lo:]
        assert len(middle) == n_mid
        assert prefix + middle + suffix == want
    # 70% rate: with 400 docs the binomial 5-sigma band is ~±0.115.
    assert 0.55 < n_fim / len(out) < 0.85


def test_fim_deterministic_and_mode_mix(spark, tokens_df):
    d = tokens_df.limit(200)
    a = TK.fim_transform(d, seed=7).select("doc_id", "fim_mode",
                                           "tokens").collect()
    b = TK.fim_transform(d, seed=7).select("doc_id", "fim_mode",
                                           "tokens").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    modes = {r["fim_mode"] for r in a}
    assert {"psm", "spm"} <= modes
    c = TK.fim_transform(d, seed=8).select("fim_mode").collect()
    assert [r["fim_mode"] for r in a] != [r["fim_mode"] for r in c]


def test_fim_is_map_only(spark):
    d = spark.createDataFrame([("a", list(range(20)), 20)],
                              "doc_id string, tokens array<int>, "
                              "n_tok int")
    plan = (TK.fim_transform(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_fim_rejects_bad_rates(spark, tokens_df):
    import pytest
    with pytest.raises(ValueError):
        TK.fim_transform(tokens_df, rate_permille=1001)
    with pytest.raises(ValueError):
        TK.fim_transform(tokens_df, spm_permille=-1)


# ---------------------------------------------------------------------------
# length-bucketed dynamic batching
# ---------------------------------------------------------------------------


def test_bucket_batches_budget_and_fill(spark, tokens_df):
    """Every batch's padded cost fits max_tokens; every batch except
    possibly the last of its bucket is FULL; padding per doc is
    bounded by the bucket rounding."""
    d = tokens_df.limit(800)
    out = TK.bucket_batches(d, max_tokens=256, bucket_rounding=32)
    rows = out.collect()
    assert len(rows) == d.filter(F.col("n_tok") > 0).count()
    batches = {}
    for r in rows:
        assert r["bucket_len"] >= r["n_tok"]
        assert 0 <= r["pad_tok"] < 32
        if r["oversize"]:
            assert r["batch_idx"] is None and r["bucket_len"] > 256
            continue
        key = (r["source"], r["bucket_len"], r["batch_idx"])
        batches.setdefault(key, []).append(r)
    for (src, blen, bidx), members in batches.items():
        cap = 256 // blen
        assert len(members) * blen <= 256
        last = max(b for (s, bl, b) in batches
                   if s == src and bl == blen)
        if bidx < last:
            assert len(members) == cap
        assert sorted(m["pos_in_batch"] for m in members) \
            == list(range(len(members)))


def test_bucket_batches_deterministic(spark, tokens_df):
    d = tokens_df.limit(300)
    a = sorted(map(tuple, TK.bucket_batches(d, 512).select(
        "doc_id", "batch_idx", "pos_in_batch").collect()))
    b = sorted(map(tuple, TK.bucket_batches(d, 512).select(
        "doc_id", "batch_idx", "pos_in_batch").collect()))
    assert a == b


def test_bucket_batches_rejects_bad_budget(spark, tokens_df):
    import pytest
    with pytest.raises(ValueError):
        TK.bucket_batches(tokens_df, max_tokens=16, bucket_rounding=64)


# ---------------------------------------------------------------------------
# temperature mixture sampling
# ---------------------------------------------------------------------------


def test_temperature_mixture_flattens_toward_uniform(spark, tokens_df):
    """alpha=1 keeps natural token proportions (all sources get the
    same keep RATE); smaller alpha shifts share toward small sources:
    the small/large target ratio must strictly grow as alpha drops."""
    d = tokens_df.limit(1200)
    def targets(alpha_pm):
        out = TK.temperature_mixture(
            d, budget_tokens=F.expr("corpus_tokens DIV 4"),
            alpha_permille=alpha_pm)
        return {r["source"]: (r["target_tok"], r["ppm"]) for r in
                out.select("source", "target_tok", "ppm")
                   .distinct().collect()}
    tot = {r["source"]: r["t"] for r in
           d.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()}
    small = min(tot, key=tot.get)
    big = max(tot, key=tot.get)
    assert tot[small] < tot[big]
    t10 = targets(1000)
    ppms = {p for _, p in t10.values()}
    # natural proportions: every source keeps at the same ppm (up to
    # the integer DIV grain of the two-stage rounding)
    assert max(ppms) - min(ppms) <= 2000
    ratios = []
    for a in (1000, 500, 300):
        tg = targets(a)
        ratios.append(tg[small][0] / tg[big][0])
    assert ratios[0] < ratios[1] < ratios[2]


def test_temperature_mixture_deterministic_and_bounds(spark, tokens_df):
    import pytest
    d = tokens_df.limit(500)
    out = TK.temperature_mixture(
        d, budget_tokens=F.expr("corpus_tokens DIV 3"),
        alpha_permille=300)
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert a == b and 0 < len(a) < 500
    with pytest.raises(ValueError):
        TK.temperature_mixture(d, F.lit(10), alpha_permille=0)


# ---------------------------------------------------------------------------
# packed-window attention masks
# ---------------------------------------------------------------------------


def test_pack_masks_invariants(spark, tokens_df):
    """segment/position arrays cover every token; segments are
    contiguous, start at 0, and agree with doc_starts; positions
    reset to 0 exactly at each segment boundary."""
    d = _with_numeric_id(tokens_df.limit(600))
    packed = TK.pack_sequences(d, ctx_len=96, id_col="oid")
    out = TK.pack_masks(packed).collect()
    assert len(out) > 5
    for r in out:
        L = len(r["tokens"])
        seg, pos = r["segment_ids"], r["position_ids"]
        assert len(seg) == L and len(pos) == L
        starts = [s for s in r["doc_starts"] if s > 0]
        assert r["n_segments"] == len(starts) + 1
        assert seg[0] == 0 and pos[0] == 0
        for i in range(1, L):
            if i in starts:
                assert seg[i] == seg[i - 1] + 1 and pos[i] == 0
            else:
                assert seg[i] == seg[i - 1] and pos[i] == pos[i - 1] + 1


def test_pack_masks_is_map_only(spark, tokens_df):
    d = _with_numeric_id(tokens_df.limit(50))
    packed = TK.pack_sequences(d, ctx_len=64, id_col="oid")
    base = packed._jdf.queryExecution().executedPlan().toString()
    full = (TK.pack_masks(packed)
            ._jdf.queryExecution().executedPlan().toString())
    assert full.count("Exchange") == base.count("Exchange")
    assert "Python" not in full


# ---------------------------------------------------------------------------
# Kneser-Ney bigram scoring
# ---------------------------------------------------------------------------


def _kn_python(train_seqs, score_seqs, dd=0.75):
    from collections import Counter
    import math
    gc = Counter()
    for s in train_seqs:
        for a, b in zip(s, s[1:]):
            gc[(a, b)] += 1
    cc = Counter(); n1f = Counter(); n1b = Counter()
    for (a, b), c in gc.items():
        cc[a] += c; n1f[a] += 1; n1b[b] += 1
    nbb = len(gc)
    out = []
    for s in score_seqs:
        nll, ns, nu = 0, 0, 0
        for a, b in zip(s, s[1:]):
            if a not in cc or b not in n1b:
                nu += 1
                continue
            p = (max(gc.get((a, b), 0) - dd, 0.0)
                 + dd * n1f[a] * (n1b[b] / nbb)) / cc[a]
            nll += round(-math.log(p) * 1000)
            ns += 1
        out.append((nll if ns else None, ns, nu))
    return out


def test_kn_matches_python_replay_and_probability_mass(spark):
    """Operator result equals the pure-python KN chain on a held-out
    split; and the python model's sum_w P(w|u) == 1 for every seen
    context (the interpolated-KN normalization identity)."""
    train = [[1, 2, 3, 1, 2], [2, 3, 4, 2], [1, 3, 1, 3, 5]]
    score = train + [[5, 4, 1, 99], [99, 98]]
    rows = [("d%d" % i, "s", s, len(s))
            for i, s in enumerate(score)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, "
              "n_tok int")
    tr = df.filter(F.col("doc_id").isin("d0", "d1", "d2"))
    got = {r["doc_id"]: (r["nll_millinats"], r["n_scored"],
                         r["n_unscored"])
           for r in TK.kn_surprisal(tr, df).collect()}
    want = _kn_python(train, score)
    for i, w in enumerate(want):
        assert got["d%d" % i] == w, (i, got["d%d" % i], w)
    # d3: (5,4) unseen pair but both sides known -> scored; (1,99)
    # unknown continuation -> unscored
    assert got["d3"][1] >= 1 and got["d3"][2] >= 1
    # probability mass: for each context, sum over the FULL vocab
    from collections import Counter
    gc = Counter()
    for s in train:
        for a, b in zip(s, s[1:]):
            gc[(a, b)] += 1
    cc = Counter(); n1f = Counter(); n1b = Counter()
    for (a, b), c in gc.items():
        cc[a] += c; n1f[a] += 1; n1b[b] += 1
    nbb = len(gc)
    vocab = set(n1b)
    for u in cc:
        mass = sum((max(gc.get((u, w), 0) - 0.75, 0.0)
                    + 0.75 * n1f[u] * (n1b[w] / nbb)) / cc[u]
                   for w in vocab)
        assert abs(mass - 1.0) < 1e-9, (u, mass)


def test_kn_self_train_scores_everything(spark, tokens_df):
    d = tokens_df.limit(200).filter(F.col("n_tok") >= 2)
    out = TK.kn_surprisal(d)
    assert out.filter("n_unscored > 0").count() == 0
    assert out.count() == d.count()
    import pytest
    with pytest.raises(ValueError):
        TK.kn_surprisal(d, discount_milli=1000)


# ---------------------------------------------------------------------------
# T5 span corruption
# ---------------------------------------------------------------------------


def test_span_corrupt_reconstruction_and_layout(spark, tokens_df):
    """Splicing each target span back over its sentinel in inputs
    reconstructs the original sequence exactly; sentinels are
    consecutive from the base; targets close with the final
    sentinel; spans stay within bounds and disjoint."""
    d = tokens_df.limit(300)
    orig = {r["doc_id"]: r["tokens"]
            for r in d.select("doc_id", "tokens").collect()}
    out = TK.span_corrupt(d, grid=20, rate_permille=800).collect()
    n_spans_total = 0
    for r in out:
        toks, inp, tgt = orig[r["doc_id"]], r["inputs"], r["targets"]
        k = r["n_spans"]
        n_spans_total += k
        assert tgt[-1] == 50100 + k
        segs: dict = {}
        cur = None
        for t in tgt[:-1]:
            if t >= 50100:
                cur = t
                assert cur == 50100 + len(segs)
                segs[cur] = []
            else:
                segs[cur].append(t)
        assert len(segs) == k
        rec = []
        for t in inp:
            rec.extend(segs[t] if t >= 50100 else [t])
        assert rec == toks
        # masked fraction lands in the configured ballpark per corpus
    masked = sum(len(orig[r["doc_id"]]) - (len(r["inputs"])
                 - r["n_spans"]) for r in out)
    total = sum(len(v) for v in orig.values())
    assert 0.05 < masked / total < 0.30 and n_spans_total > 100


def test_span_corrupt_map_only_and_validation(spark, tokens_df):
    import pytest
    d = tokens_df.limit(20)
    plan = (TK.span_corrupt(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan
    with pytest.raises(ValueError):
        TK.span_corrupt(d, grid=3, span_max=5)
    with pytest.raises(ValueError):
        TK.span_corrupt(d, span_min=0)


# ---------------------------------------------------------------------------
# UL2 mixture of denoisers
# ---------------------------------------------------------------------------


def test_ul2_routes_and_reconstruction(spark, tokens_df):
    """Every doc lands in exactly one branch with its paradigm token;
    R/X reconstruct by sentinel splice, S by prefix+suffix concat;
    the route mix is near thirds."""
    d = tokens_df.limit(600)
    orig = {r["doc_id"]: r["tokens"]
            for r in d.select("doc_id", "tokens").collect()}
    out = TK.ul2_mixture(d, seed=0).collect()
    assert len(out) == len(orig)
    counts = {"R": 0, "S": 0, "X": 0}
    for r in out:
        toks, inp, tgt = orig[r["doc_id"]], r["inputs"], r["targets"]
        counts[r["denoiser"]] += 1
        mode_tok = {"R": 50200, "S": 50201, "X": 50202}[r["denoiser"]]
        assert inp[0] == mode_tok
        body = inp[1:]
        if r["denoiser"] == "S":
            assert body[-1] == 50100 and tgt[0] == 50100 \
                and tgt[-1] == 50101
            assert body[:-1] + tgt[1:-1] == toks
            continue
        segs: dict = {}
        cur = None
        for t in tgt[:-1]:
            if t >= 50100:
                cur = t
                segs[cur] = []
            else:
                segs[cur].append(t)
        rec = []
        for t in body:
            rec.extend(segs[t] if t >= 50100 else [t])
        assert rec == toks
        if r["denoiser"] == "X" and r["n_spans"]:
            assert max(len(s) for s in segs.values()) >= 8 or \
                min(len(toks), 16) < 8
    total = sum(counts.values())
    for k, c in counts.items():
        assert 0.2 < c / total < 0.47, counts
    import pytest
    with pytest.raises(ValueError):
        TK.ul2_mixture(d, r_permille=600, s_permille=600)


# ---------------------------------------------------------------------------
# SFT chat rendering
# ---------------------------------------------------------------------------


def test_render_chat_layout_and_mask(spark):
    """Stream layout, assistant-only loss, unknown-role handling, and
    exact turn reconstruction by stripping tags/EOTs."""
    rows = [("c0", [("system", [10, 11]), ("user", [20]),
                    ("assistant", [30, 31, 32])]),
            ("c1", [("user", [40, 41]), ("tool", [50]),
                    ("assistant", [60])])]
    df = spark.createDataFrame(
        rows, "conv_id string, turns array<struct<role string, "
              "tokens array<int>>>")
    out = {r["conv_id"]: r for r in TK.render_chat(df).collect()}
    r0 = out["c0"]
    assert r0["tokens"] == [50300, 10, 11, 50303, 50301, 20, 50303,
                            50302, 30, 31, 32, 50303]
    assert r0["loss_mask"] == [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1]
    assert (r0["n_tok"], r0["n_loss"], r0["n_turns"]) == (12, 4, 3)
    r1 = out["c1"]
    # unknown role renders the unk tag and never enters the loss
    assert r1["tokens"] == [50301, 40, 41, 50303, 50399, 50, 50303,
                            50302, 60, 50303]
    assert r1["loss_mask"] == [0, 0, 0, 0, 0, 0, 0, 0, 1, 1]
    for cid, turns in rows:
        rec, cur = [], None
        for t in out[cid]["tokens"]:
            if t >= 50300:
                if t != 50303:
                    cur = []
                    rec.append(cur)
            else:
                cur.append(t)
        assert rec == [list(t[1]) for t in turns]
    import pytest
    with pytest.raises(ValueError):
        TK.render_chat(df, role_tokens={})


def test_render_chat_is_map_only(spark):
    df = spark.createDataFrame(
        [("c", [("user", [1])])],
        "conv_id string, turns array<struct<role string, "
        "tokens array<int>>>")
    plan = (TK.render_chat(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


# ---------------------------------------------------------------------------
# vocabulary compaction
# ---------------------------------------------------------------------------


def test_remap_vocab_bijection_and_rank_order(spark):
    """Length preserved; survivors form a contiguous bijection in
    frequency-rank order; sub-threshold ids collapse to UNK."""
    rows = [("d0", "s", [5, 5, 5, 9, 9, 7]),
            ("d1", "s", [5, 9, 9, 42]),
            ("d2", "s", [7])]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>")
    out = {r["doc_id"]: r
           for r in TK.remap_vocab(df, min_count=2).collect()}
    # counts: 9 -> 4x, 5 -> 4x, 7 -> 2x, 42 -> 1x (UNK)
    # rank order (count desc, tok asc): 5 -> 1, 9 -> 2, 7 -> 3
    assert out["d0"]["tokens"] == [1, 1, 1, 2, 2, 3]
    assert out["d1"]["tokens"] == [1, 2, 2, 0]
    assert out["d2"]["tokens"] == [3]
    assert (out["d1"]["n_unk"], out["d0"]["n_unk"]) == (1, 0)
    orig = {k: v for k, _, v in rows}
    assert all(len(r["tokens"]) == len(orig[r["doc_id"]])
               for r in out.values())
    import pytest
    with pytest.raises(ValueError):
        TK.remap_vocab(df, min_count=0)


def test_remap_vocab_partitioning_invariant(spark, tokens_df):
    d = tokens_df.limit(200)
    a = sorted((r["doc_id"], tuple(r["tokens"]), r["n_unk"])
               for r in TK.remap_vocab(d).collect())
    b = sorted((r["doc_id"], tuple(r["tokens"]), r["n_unk"])
               for r in TK.remap_vocab(d.repartition(17)).collect())
    assert a == b


# ---------------------------------------------------------------------------
# span-level decontamination
# ---------------------------------------------------------------------------


def test_decontaminate_spans_planted_overlap(spark):
    """A train doc embedding a verbatim bench window is flagged with
    the right count and first position; clean docs pass; short docs
    produce no windows and pass."""
    bench = spark.createDataFrame(
        [("b0", list(range(100, 140)))],
        "doc_id string, tokens array<int>")
    rows = [
        # contains bench tokens 110..125 (16 verbatim) at pos 6
        ("t0", [1, 2, 3, 4, 5] + list(range(110, 126)) + [7, 8]),
        ("t1", list(range(500, 540))),          # clean
        ("t2", [9] * 10),                       # too short: no windows
        # the whole bench doc verbatim: 40-15=25 hit windows at pos 1
        ("t3", list(range(100, 140))),
    ]
    train = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>")
    out = {r["doc_id"]: r for r in
           TK.decontaminate_spans(train, bench, length=16).collect()}
    assert len(out) == 4
    assert out["t0"]["contaminated"] \
        and out["t0"]["n_hit_windows"] == 1 \
        and out["t0"]["first_hit_pos"] == 6
    assert not out["t1"]["contaminated"] \
        and out["t1"]["first_hit_pos"] is None
    assert not out["t2"]["contaminated"]
    assert out["t3"]["n_hit_windows"] == 25 \
        and out["t3"]["first_hit_pos"] == 1


# ---------------------------------------------------------------------------
# Gopher n-gram repetition signals
# ---------------------------------------------------------------------------


def test_ngram_repetition_hand_computed(spark):
    """Hand-computed top-2-gram share and exact dup-5-gram coverage
    (overlap counted once)."""
    rows = [
        # "1 2" occurs 3x (positions 0,2,4) -> top2 = 3*2*1000//8 = 750
        # no 5-gram repeats -> dup5 = 0
        ("d0", "s", [1, 2, 1, 2, 1, 2, 7, 8]),
        # [1..5] at pos 0 and 5: coverage = 10 of 10 -> 1000
        ("d1", "s", [1, 2, 3, 4, 5, 1, 2, 3, 4, 5]),
        # overlapping dup 5-grams: [9]*7 -> all 5-grams identical
        # (3 occurrences), coverage = all 7 tokens -> 1000; top2 =
        # 6*2*1000//7 = 1714 (uncapped by design)
        ("d2", "s", [9] * 7),
        ("d3", "s", [1, 2, 3]),     # too short for 5-grams
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens"))
    out = {r["doc_id"]: (r["top2_permille"], r["dup5_permille"])
           for r in TK.ngram_repetition(df).collect()}
    assert out["d0"] == (750, 0)
    assert out["d1"] == (2 * 2 * 1000 // 10, 1000)
    assert out["d2"] == (6 * 2 * 1000 // 7, 1000)
    assert out["d3"][1] == 0 and len(out) == 4
    import pytest
    with pytest.raises(ValueError):
        TK.ngram_repetition(df, top_n=0)


# ---------------------------------------------------------------------------
# corpus drift monitor
# ---------------------------------------------------------------------------


def test_corpus_drift_identical_and_disjoint(spark):
    """Identical snapshots drift 0; disjoint vocabularies drift the
    full 2,000,000 ppm; a planted shift surfaces as the top mover."""
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, tokens array<int>")
    a = mk([("a%d" % i, [1, 2, 3, 4]) for i in range(10)])
    same = TK.corpus_drift(a, a).first()
    assert same["l1_drift_ppm"] == 0 and same["delta_ppm"] == 0
    b = mk([("b%d" % i, [9, 8, 7, 6]) for i in range(10)])
    assert TK.corpus_drift(a, b).first()["l1_drift_ppm"] == 2_000_000
    # shift: token 1 doubles its mass in the new snapshot
    c = mk([("c%d" % i, [1, 1, 2, 3]) for i in range(10)])
    top = TK.corpus_drift(a, c, k=3).collect()
    assert top[0]["tok"] == 1 and top[0]["delta_ppm"] == 250_000
    assert all(r["l1_drift_ppm"] == top[0]["l1_drift_ppm"]
               for r in top)
    import pytest
    with pytest.raises(ValueError):
        TK.corpus_drift(a, b, k=0)


def test_bucket_batches_oversize_routing(spark):
    """Docs whose bucket exceeds the budget route aside with null
    batch ids and never join a batch."""
    rows = [("big", "s", 900), ("ok1", "s", 60), ("ok2", "s", 60)]
    df = spark.createDataFrame(rows, "doc_id string, source string, "
                                     "n_tok int") \
        .withColumn("tokens", F.expr("array_repeat(1, n_tok)"))
    out = {r["doc_id"]: r for r in
           TK.bucket_batches(df, max_tokens=256,
                             bucket_rounding=64).collect()}
    assert out["big"]["oversize"] and out["big"]["batch_idx"] is None
    assert not out["ok1"]["oversize"] \
        and out["ok1"]["batch_idx"] is not None
