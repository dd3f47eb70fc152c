"""Stream-processor SQL dialect tests (SURVEY.md §2.7).

Mirrors the upstream SP test posture (upstream:tests/internal/
stream_processor.c: SQL statements over fixture data with expected
aggregate results) — expectations here come from the equivalent plain
Spark SQL / DataFrame computation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.plans.sql_shim import StreamProcessor


@pytest.fixture(scope="module")
def sp(spark):
    rows = [
        ("app.web.apache", "2026-01-01 00:00:05", "error", 500, 3),
        ("app.web.apache", "2026-01-01 00:00:25", "info", 200, 10),
        ("app.web.json", "2026-01-01 00:00:35", "info", 200, 7),
        ("app.db.ltsv", "2026-01-01 00:01:05", "warn", 301, 1),
        ("app.db.ltsv", "2026-01-01 00:01:45", "error", 500, 2),
        ("sys.kernel", "2026-01-01 00:02:05", None, None, 9),
    ]
    df = (spark.createDataFrame(
        rows, "tag string, ts string, level string, code int, n_tok int")
        .withColumn("event_ts", F.to_timestamp("ts")).drop("ts"))
    p = StreamProcessor(spark, tagged=df)
    p.register_stream("logs", df)
    return p


def test_select_from_stream(sp):
    got = sp.sql("SELECT COUNT(*) AS c, AVG(n_tok) AS a FROM STREAM:logs "
                 "WHERE level = 'error';").collect()[0]
    assert (got.c, got.a) == (2, 2.5)


def test_tag_selector_glob(sp):
    got = sp.sql("SELECT COUNT(*) AS c FROM TAG:'app.web.*';").collect()[0]
    assert got.c == 3


def test_tumbling_window_group_by(sp, spark):
    df = sp.sql(
        "SELECT tag, SUM(n_tok) AS s FROM STREAM:logs "
        "WINDOW TUMBLING (1 MINUTE) GROUP BY tag;")
    got = {(r.win_start.isoformat(), r.tag): r.s for r in df.collect()}
    want_df = (spark.table("sp_stream_logs")
               .groupBy(F.window("event_ts", "60 seconds").alias("w"), "tag")
               .agg(F.sum("n_tok").alias("s")))
    want = {(r.w.start.isoformat(), r.tag): r.s for r in want_df.collect()}
    assert got == want and len(got) == 4


def test_hopping_window(sp):
    df = sp.sql("SELECT COUNT(*) AS c FROM STREAM:logs "
                "WINDOW HOPPING (2 MINUTE, ADVANCE BY 1 MINUTE);")
    rows = {r.win_start.strftime("%H:%M"): r.c for r in df.collect()}
    # each event lands in two hopping panes
    assert rows == {"23:59": 3, "00:00": 5, "00:01": 3, "00:02": 1}


def test_record_functions_and_contains(sp):
    got = sp.sql(
        "SELECT RECORD_TAG() AS t, COUNT(*) AS c FROM STREAM:logs "
        "WHERE @record.contains(level) GROUP BY RECORD_TAG();").collect()
    assert {(r.t, r.c) for r in got} == {
        ("app.web.apache", 2), ("app.web.json", 1), ("app.db.ltsv", 2)}


def test_create_stream_with_tag_reemission(sp):
    sp.sql("CREATE STREAM errors WITH (tag='sp.err') AS "
           "SELECT tag AS src_tag, COUNT(*) AS c FROM STREAM:logs "
           "WHERE code >= 500 GROUP BY tag;")
    got = sp.sql("SELECT src_tag, c, tag FROM STREAM:errors;").collect()
    assert {(r.src_tag, r.c, r.tag) for r in got} == {
        ("app.web.apache", 1, "sp.err"), ("app.db.ltsv", 1, "sp.err")}


def test_translate_preserves_string_literals(spark):
    """Rewrites and whitespace collapse must never touch literal
    content: tabs, space runs, and dialect-lookalike text inside
    quotes survive byte-exact."""
    from fluent_bit_spark.plans.sql_shim import StreamProcessor
    sp = StreamProcessor(spark)
    out = sp.translate(
        "SELECT 'STREAM:x  \t keep   me', RECORD_TAG() FROM STREAM:src")
    assert "'STREAM:x  \t keep   me'" in out
    assert "sp_stream_src" in out
    assert "sp_stream_x" not in out


def test_contains_on_map_is_presence(spark):
    """@record.contains on a map access = map_contains_key: a key
    present with a NULL value reports TRUE (flb presence semantics)."""
    from fluent_bit_spark.plans.sql_shim import StreamProcessor
    sp = StreamProcessor(spark)
    df = spark.createDataFrame(
        [(1, {"k": None}), (2, {"o": "x"})],
        "i long, fields map<string,string>")
    sp.register_stream("m", df)
    got = sp.sql("SELECT i FROM STREAM:m WHERE @record.contains("
                 "fields['k'])").collect()
    assert [r.i for r in got] == [1]


def test_having_and_limit_pass_through(sp):
    """HAVING and LIMIT are plain ANSI tails the shim must forward
    untouched (upstream sql.y accepts both on aggregate selects)."""
    got = sp.sql(
        "SELECT tag, COUNT(*) AS c FROM STREAM:logs "
        "GROUP BY tag HAVING COUNT(*) > 1;").collect()
    assert {(r.tag, r.c) for r in got} == {
        ("app.web.apache", 2), ("app.db.ltsv", 2)}
    got = sp.sql(
        "SELECT tag, n_tok FROM STREAM:logs "
        "ORDER BY n_tok DESC LIMIT 2;").collect()
    assert [(r.tag, r.n_tok) for r in got] == [
        ("app.web.apache", 10), ("sys.kernel", 9)]


def test_window_group_by_with_having_tail(sp):
    """The window expression must be spliced into the GROUP BY key list
    BEFORE a HAVING tail — the tail regex marks the end of the keys; a
    naive append-at-end would produce `GROUP BY tag HAVING ... , window`
    (a parse error)."""
    df = sp.sql(
        "SELECT tag, SUM(n_tok) AS s FROM STREAM:logs "
        "WINDOW TUMBLING (1 MINUTE) GROUP BY tag HAVING SUM(n_tok) >= 9;")
    got = {(r.win_start.isoformat(), r.tag): r.s for r in df.collect()}
    assert got == {("2026-01-01T00:00:00", "app.web.apache"): 13,
                   ("2026-01-01T00:02:00", "sys.kernel"): 9}


def test_window_group_by_with_limit_tail(sp):
    """Same splice-before-tail contract for LIMIT after GROUP BY."""
    df = sp.sql(
        "SELECT tag, SUM(n_tok) AS s FROM STREAM:logs "
        "WINDOW TUMBLING (1 MINUTE) GROUP BY tag "
        "ORDER BY s DESC LIMIT 1;")
    got = [(r.win_start.isoformat(), r.tag, r.s) for r in df.collect()]
    assert got == [("2026-01-01T00:00:00", "app.web.apache", 13)]


def test_snapshot_create_and_flush(sp, spark):
    """CREATE SNAPSHOT / FLUSH SNAPSHOT WHEN (upstream:
    src/stream_processor/flb_sp_snapshot.c): each flush record
    re-emits the size-bounded context of its key stream preceding it —
    must equal the direct operator call."""
    from fluent_bit_spark.operators.snapshot import snapshot_context

    sp.sql("CREATE SNAPSHOT errctx WITH (size=2) AS "
           "SELECT * FROM STREAM:logs;")
    got = sp.sql("FLUSH SNAPSHOT errctx WHEN level = 'error';")
    src = spark.table("sp_stream_logs")
    # the order column surfaces as flush_at / buffer order, so the
    # shim excludes it from the payload (no ctx_event_ts duplication)
    want = snapshot_context(
        src, "tag", "event_ts", F.col("level") == "error",
        limit_rows=2,
        payload_cols=[c for c in src.columns
                      if c not in ("tag", "event_ts")])
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    # the 00:01:45 db error flushes the 00:01:05 warn that preceded it
    ctx = [(r.tag, r.ctx_level) for r in got.collect()]
    assert ("app.db.ltsv", "warn") in ctx


def test_snapshot_flush_unknown_raises(sp):
    with pytest.raises(ValueError, match="unknown snapshot"):
        sp.sql("FLUSH SNAPSHOT nope WHEN 1=1;")


def test_snapshot_payload_named_o_does_not_collide(spark):
    """A payload column literally named 'o' must survive: the buffer
    struct's order field uses the reserved '__o' alias (a bare 'o'
    alias made ctx.o ambiguous)."""
    import pytest as _pytest
    from fluent_bit_spark.operators.snapshot import snapshot_context
    df = spark.createDataFrame(
        [("k", 1, "a"), ("k", 2, "b"), ("k", 3, "c")],
        "key string, seq int, o string")
    out = snapshot_context(df, "key", "seq", F.col("seq") == 3,
                           limit_rows=2, payload_cols=["o"])
    rows = sorted((r.ctx_pos, r.ctx_o) for r in out.collect())
    assert rows == [(0, "a"), (1, "b")]
    with _pytest.raises(ValueError, match="__o.*reserved"):
        snapshot_context(df, "key", "seq", F.col("seq") == 3,
                         limit_rows=2, payload_cols=["__o"])


def test_pack_verb_matches_operator(sp, spark):
    """Engine-extension verb: PACK STREAM:x INTO n TOKENS must equal
    the direct pack_sequences call (a [STREAM_TASK] Exec can reach the
    token pipeline from config)."""
    from fluent_bit_spark.operators.tokens import pack_sequences
    rows = [(i, "s%d" % (i % 2), list(range(i * 5, i * 5 + 3)), 3)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, tokens array<int>, n_tok int")
    sp.register_stream("toks", df)
    got = sp.sql("PACK STREAM:toks INTO 8 TOKENS;")
    want = pack_sequences(df, ctx_len=8)
    key = lambda r: (r["source"], r["chunk_id"])
    g = {key(r): (r["tokens"], r["n_docs"]) for r in got.collect()}
    w = {key(r): (r["tokens"], r["n_docs"]) for r in want.collect()}
    assert g == w and len(g) > 5


def test_pack_verb_hash_order_and_sep(sp, spark):
    """ORDER BY HASH(col) packs in deterministically shuffled order
    with a domain-derived range-group width; SEP appends EOD."""
    from pyspark.sql import functions as F
    from fluent_bit_spark.operators.tokens import (
        hash_order_bucket_width, pack_sequences)
    df = spark.table("sp_stream_toks")
    got = sp.sql("PACK STREAM:toks INTO 8 TOKENS "
                 "ORDER BY HASH(doc_id) SEP -1;")
    d = df.withColumn("__okey", F.xxhash64("doc_id"))
    want = pack_sequences(d, ctx_len=8, order_col="__okey",
                          tiebreak_col="doc_id",
                          group_size=hash_order_bucket_width(df.count()),
                          sep_token=-1)
    key = lambda r: (r["source"], r["chunk_id"])
    g = {key(r): r["tokens"] for r in got.collect()}
    w = {key(r): r["tokens"] for r in want.collect()}
    assert g == w
    assert any(-1 in toks for toks in g.values())


def test_create_stream_from_pack_verb(sp, spark):
    """CREATE STREAM name AS PACK ... registers the packed frame for
    downstream SELECTs, like any other stream."""
    sp.sql("CREATE STREAM packed AS PACK STREAM:toks INTO 8 TOKENS;")
    got = sp.sql("SELECT COUNT(*) AS c FROM STREAM:packed "
                 "WHERE full;").collect()[0]
    assert got.c > 0


def test_score_surprisal_verb_matches_operator(sp, spark):
    """SCORE SURPRISAL STREAM:x equals the direct unigram_surprisal
    call — a [STREAM_TASK] Exec reaches the quality scorer."""
    from fluent_bit_spark.operators.tokens import unigram_surprisal
    df = spark.table("sp_stream_toks")
    got = {(r.doc_id, r.source): (r.nll_millinats, r.n_tok_scored)
           for r in sp.sql("SCORE SURPRISAL STREAM:toks;").collect()}
    want = {(r.doc_id, r.source): (r.nll_millinats, r.n_tok_scored)
            for r in unigram_surprisal(df).collect()}
    assert got == want and len(got) == 40


def test_pack_verb_nosplit(sp, spark):
    """PACK … NOSPLIT equals the direct pack_documents call; ORDER BY
    / SEP are rejected with it."""
    import pytest as _pytest
    from fluent_bit_spark.operators.tokens import pack_documents
    df = spark.table("sp_stream_toks")
    # key on (source, bin_key): bin_key is "cell:bin" and repeats
    # across sources, so a bin_key-only dict silently keeps whichever
    # source's row collect() returned last (partition-order-dependent
    # — this flaked in the full suite while passing standalone)
    got = {(r.source, r.bin_key): (r.tokens, r.n_docs, r.pad) for r in
           sp.sql("PACK STREAM:toks INTO 8 TOKENS NOSPLIT;").collect()}
    want = {(r.source, r.bin_key): (r.tokens, r.n_docs, r.pad) for r in
            pack_documents(df, ctx_len=8).collect()}
    assert got == want and len(got) > 5
    with _pytest.raises(ValueError, match="NOSPLIT"):
        sp.sql("PACK STREAM:toks INTO 8 TOKENS NOSPLIT SEP -1;")
    with _pytest.raises(ValueError, match="NOSPLIT"):
        sp.sql("PACK STREAM:toks INTO 8 TOKENS NOSPLIT "
               "ORDER BY HASH(doc_id);")


def test_score_surprisal_verb_order_n_and_backoff(sp, spark):
    """SCORE SURPRISAL … ORDER 3 reaches ngram_surprisal; BACKOFF
    TRAIN STREAM:y reaches backoff_surprisal; BACKOFF with ORDER 1 is
    rejected."""
    import pytest as _pytest
    from fluent_bit_spark.operators.tokens import (backoff_surprisal,
                                                   ngram_surprisal)
    df = spark.table("sp_stream_toks")
    got = {(r.doc_id, r.source): r.nll_millinats for r in
           sp.sql("SCORE SURPRISAL STREAM:toks ORDER 3;").collect()}
    want = {(r.doc_id, r.source): r.nll_millinats for r in
            ngram_surprisal(df, order=3).collect()}
    assert got == want and len(got) == 40
    sp.register_stream("toks_train",
                       df.filter("doc_id % 2 = 0"))
    got_b = {(r.doc_id, r.source): (r.nll_millinats, r.n_full, r.n_oov)
             for r in sp.sql(
                 "SCORE SURPRISAL STREAM:toks ORDER 3 "
                 "BACKOFF TRAIN STREAM:toks_train;").collect()}
    want_b = {(r.doc_id, r.source): (r.nll_millinats, r.n_full, r.n_oov)
              for r in backoff_surprisal(
                  df.filter("doc_id % 2 = 0"), df, order=3).collect()}
    assert got_b == want_b and len(got_b) == 40
    with _pytest.raises(ValueError, match="ORDER >= 2"):
        sp.sql("SCORE SURPRISAL STREAM:toks "
               "BACKOFF TRAIN STREAM:toks_train;")


def test_split_holdout_verb_matches_operator(sp, spark):
    """SPLIT STREAM:x HOLDOUT n [BY g] [KEY k] equals the direct
    stratified_split call at a uniform rate."""
    from fluent_bit_spark.operators.filters import stratified_split
    df = spark.table("sp_stream_toks")
    got = {r.doc_id: r.split for r in
           sp.sql("SPLIT STREAM:toks HOLDOUT 300 "
                  "BY source KEY doc_id;").collect()}
    want = {r.doc_id: r.split for r in
            stratified_split(df, "source", "doc_id", {},
                             default_permille=300).collect()}
    assert got == want
    assert {"train", "holdout"} == set(got.values())


def test_score_surprisal_order2_verb(sp, spark):
    """SCORE SURPRISAL STREAM:x ORDER 2 == bigram_surprisal; the
    default stays the unigram scorer."""
    from fluent_bit_spark.operators.tokens import (
        bigram_surprisal, unigram_surprisal,
    )
    df = spark.createDataFrame(
        [("a", "s", [1, 2]), ("b", "s", [1, 3]), ("c", "s", [1, 2])],
        "doc_id string, source string, tokens array<int>")
    sp.register_stream("tq", df)
    got2 = {(r.doc_id, r.nll_millinats) for r in
            sp.sql("SCORE SURPRISAL STREAM:tq ORDER 2;").collect()}
    want2 = {(r.doc_id, r.nll_millinats) for r in
             bigram_surprisal(df).collect()}
    assert got2 == want2
    got1 = {(r.doc_id, r.nll_millinats) for r in
            sp.sql("SCORE SURPRISAL STREAM:tq;").collect()}
    want1 = {(r.doc_id, r.nll_millinats) for r in
             unigram_surprisal(df).collect()}
    assert got1 == want1 and got1 != got2


def test_resample_verb_matches_operator(sp, spark):
    """RESAMPLE STREAM:raw TARGET STREAM:tgt TOP n [BUCKETS k]
    [SEED 's'] == dsir_select."""
    from fluent_bit_spark.operators.tokens import dsir_select
    raw = spark.createDataFrame(
        [(1, "s", [5, 6, 5]), (2, "s", [5, 6]), (3, "s", [7, 8, 9]),
         (4, "s", [9, 7, 8])],
        "doc_id long, source string, tokens array<int>")
    tgt = raw.filter("doc_id <= 2")
    sp.register_stream("rawdocs", raw)
    sp.register_stream("tgtdocs", tgt)
    got = sp.sql("RESAMPLE STREAM:rawdocs TARGET STREAM:tgtdocs "
                 "TOP 2 BUCKETS 64 SEED 'v';")
    want = dsir_select(raw, tgt, n=2, n_buckets=64, seed="v")
    key = lambda r: (r.doc_id, r.llr_millinats, r.n_feat, r.sel_key)
    assert {key(r) for r in got.collect()} == \
        {key(r) for r in want.collect()}


def test_heavy_keys_verb_matches_operator(sp, spark):
    """HEAVY KEYS STREAM:x KEY col MIN n == heavy_hitters_cms."""
    from fluent_bit_spark.operators.aggregate import heavy_hitters_cms
    df = spark.createDataFrame(
        [("hot",)] * 30 + [("cold",)] * 2, "k string")
    sp.register_stream("hhk", df)
    got = {(r.k, r.est_count) for r in
           sp.sql("HEAVY KEYS STREAM:hhk KEY k MIN 10 "
                  "WIDTH 256 DEPTH 3;").collect()}
    want = {(r.k, r.est_count) for r in
            heavy_hitters_cms(df, "k", min_count=10, width=256,
                              depth=3).collect()}
    assert got == want and {k for k, _ in got} == {"hot"}


def test_audit_verbs_match_operators(sp, spark):
    """AUDIT ZIPF / AUDIT VOCAB == zipf_table / vocab_growth."""
    from fluent_bit_spark.operators.tokens import (
        vocab_growth, zipf_table,
    )
    df = spark.createDataFrame(
        [(1, [1, 1, 2]), (2, [1, 3])],
        "doc_id long, tokens array<int>")
    sp.register_stream("aud", df)
    gz = {(r.rank, r.tok, r.freq, r.cum_permille) for r in
          sp.sql("AUDIT ZIPF STREAM:aud TOP 2;").collect()}
    wz = {(r.rank, r.tok, r.freq, r.cum_permille) for r in
          zipf_table(df, k=2).collect()}
    assert gz == wz
    gv = {(r.permille, r.docs, r.total_toks, r.distinct_toks) for r in
          sp.sql("AUDIT VOCAB STREAM:aud;").collect()}
    wv = {(r.permille, r.docs, r.total_toks, r.distinct_toks) for r in
          vocab_growth(df).collect()}
    assert gv == wv


def test_winnow_allocate_fuse_verbs_match_operators(sp, spark):
    """ALLOCATE BUDGET / FUSE RANKS == the direct operator calls with
    the same parameters."""
    from fluent_bit_spark.operators.tokens import (
        allocate_token_budget, rrf_fuse,
    )
    totals = spark.createDataFrame(
        [("s1", 1000, 3), ("s2", 5000, 1)],
        "source string, unique_tokens long, weight long")
    sp.register_stream("tot", totals)
    got_a = {tuple(r) for r in
             sp.sql("ALLOCATE STREAM:tot BUDGET 4000 EPOCHS 1500;")
             .collect()}
    want_a = {tuple(r) for r in
              allocate_token_budget(totals, 4000,
                                    max_epochs_milli=1500).collect()}
    assert got_a == want_a

    la = spark.createDataFrame([(1, "x", 1), (1, "y", 2)],
                               "query_id long, doc_id string, rank long")
    lb = spark.createDataFrame([(1, "y", 1), (1, "z", 2)],
                               "query_id long, doc_id string, rank long")
    sp.register_stream("ra", la)
    sp.register_stream("rb", lb)
    got_f = {tuple(r) for r in
             sp.sql("FUSE RANKS STREAM:ra STREAM:rb K 60 TOP 2;")
             .collect()}
    want_f = {tuple(r) for r in
              rrf_fuse([la, lb], k=60, top_n=2).collect()}
    assert got_f == want_f and got_f


def test_fim_verb_matches_operator(sp, spark):
    """Engine-extension verb: FIM STREAM:x RATE pm SPM pm SEED n must
    equal the direct fim_transform call."""
    from fluent_bit_spark.operators.tokens import fim_transform
    rows = [("d%03d" % i, "s%d" % (i % 2),
             list(range(i, i + 7)), 7) for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, "
              "n_tok int")
    sp.register_stream("fimdocs", df)
    got = sp.sql("FIM STREAM:fimdocs RATE 800 SPM 400 SEED 3;")
    want = fim_transform(df, rate_permille=800, spm_permille=400,
                         seed=3)
    g = {r["doc_id"]: (r["fim_mode"], r["tokens"])
         for r in got.collect()}
    w = {r["doc_id"]: (r["fim_mode"], r["tokens"])
         for r in want.collect()}
    assert g == w and {m for m, _ in g.values()} >= {"psm", "spm"}


def test_batch_verb_matches_operator(sp, spark):
    """BATCH STREAM:x MAX n TOKENS ROUND r must equal the direct
    bucket_batches call."""
    from fluent_bit_spark.operators.tokens import bucket_batches
    df = spark.table("sp_stream_fimdocs")
    got = sp.sql("BATCH STREAM:fimdocs MAX 64 TOKENS ROUND 16;")
    want = bucket_batches(df, max_tokens=64, bucket_rounding=16)
    g = {r["doc_id"]: (r["bucket_len"], r["batch_idx"],
                       r["pos_in_batch"]) for r in got.collect()}
    w = {r["doc_id"]: (r["bucket_len"], r["batch_idx"],
                       r["pos_in_batch"]) for r in want.collect()}
    assert g == w and len(g) == 60


def test_audit_distinct_verb_matches_operator(sp, spark):
    """AUDIT DISTINCT STREAM:x KEY col BY grp must equal the direct
    approx_distinct_hll call; KEY is required."""
    import pytest
    from fluent_bit_spark.operators.aggregate import approx_distinct_hll
    df = (spark.range(400)
          .select(F.concat(F.lit("u"), (F.col("id") % 311)).alias("k"),
                  (F.col("id") % 3).cast("string").alias("g")))
    sp.register_stream("hllsrc", df)
    got = sp.sql("AUDIT DISTINCT STREAM:hllsrc KEY k BY g;")
    want = approx_distinct_hll(df, "k", group_cols=["g"])
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError):
        sp.sql("AUDIT DISTINCT STREAM:hllsrc;")


def test_score_kn_verb_matches_operator(sp, spark):
    """SCORE SURPRISAL src KN DISCOUNT d TRAIN t == direct
    kn_surprisal; the legacy BACKOFF grammar still parses."""
    import pytest
    from fluent_bit_spark.operators.tokens import kn_surprisal
    rows = [("d%d" % i, "s", [j % 7 for j in range(i, i + 9)], 9)
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, "
              "n_tok int")
    sp.register_stream("knall", df)
    sp.register_stream("kntrain", df.limit(15))
    got = sp.sql("SCORE SURPRISAL STREAM:knall KN DISCOUNT 500 "
                 "TRAIN STREAM:kntrain;")
    want = kn_surprisal(df.limit(15), df, discount_milli=500)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError):
        sp.sql("SCORE SURPRISAL STREAM:knall TRAIN STREAM:kntrain;")


def test_corrupt_spans_verb_matches_operator(sp, spark):
    from fluent_bit_spark.operators.tokens import span_corrupt
    df = spark.table("sp_stream_fimdocs")
    got = sp.sql("CORRUPT SPANS STREAM:fimdocs GRID 10 RATE 700 "
                 "SPANS 2 4 SEED 1;")
    want = span_corrupt(df, grid=10, rate_permille=700, span_min=2,
                        span_max=4, seed=1)
    g = {r["doc_id"]: (r["n_spans"], r["inputs"], r["targets"])
         for r in got.collect()}
    w = {r["doc_id"]: (r["n_spans"], r["inputs"], r["targets"])
         for r in want.collect()}
    assert g == w and any(k for k, _, _ in g.values())


def test_audit_drift_verb_matches_operator(sp, spark):
    import pytest
    from fluent_bit_spark.operators.tokens import corpus_drift
    a = spark.createDataFrame([("a%d" % i, [1, 2, 3])
                               for i in range(20)],
                              "doc_id string, tokens array<int>")
    b = spark.createDataFrame([("b%d" % i, [1, 2, 9])
                               for i in range(20)],
                              "doc_id string, tokens array<int>")
    sp.register_stream("snap_a", a)
    sp.register_stream("snap_b", b)
    got = sp.sql("AUDIT DRIFT STREAM:snap_a VS STREAM:snap_b TOP 5;")
    want = corpus_drift(a, b, k=5)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError):
        sp.sql("AUDIT DRIFT STREAM:snap_a;")
