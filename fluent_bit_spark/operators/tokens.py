"""Token-sequence operators for large-scale training-data pipelines.

Operates on the north-star input shape (BASELINE.json input_hint):
``(doc_id, tokens: array<int32>, n_tok: int32, source: string)``. Not in
the reference (fluent-bit stops at log records); these are the
extensions a 10^12-sequence corpus pipeline needs on top of the
parse→enrich→route engine:

- ``pack_sequences``   — concat-and-chunk packing of variable-length
  documents into fixed context windows (the step between a deduplicated
  corpus and a training dataloader);
- ``pack_documents``   — non-splitting greedy packing (SFT posture:
  docs stay whole, bins pad, overlong docs routed aside);
- ``bm25_topk``        — Okapi BM25 top-k retrieval (broadcast query
  terms, integer-exact tf normalization, exact top-k);
- ``chunk_documents``  — per-document sliding-window chunking with
  stride (RAG indexing / long-doc eval: overlapping windows that never
  cross a document boundary);
- ``line_dedup``       — C4-style cross-corpus line deduplication
  (drop lines occurring more than ``max_occ`` times anywhere);
- ``decontaminate``    — benchmark n-gram decontamination (flag
  training docs sharing a token n-gram with a held-out set);
- ``mixture_sample``   — per-source token-budget mixture sampling with
  deterministic content-hash selection;
- ``repetition_stats`` — within-document repetition ratios
  (Gopher-style duplicate-line quality signals).

All pure DataFrame compositions — no Python UDFs — with ONE exception:
``pack_documents``' greedy bin walk (a non-associative recurrence with
no Catalyst/prefix-sum form) runs as an Arrow-batched stage over NARROW
columns only; token arrays never cross the Python boundary. Everything
else stays inside whole-stage codegen / JVM hash aggregates and scales
by shuffle partitioning. Scale notes are on each function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# ---------------------------------------------------------------------------
# distributed exclusive prefix sum
# ---------------------------------------------------------------------------


def hash_order_bucket_width(n_rows: int,
                            rows_per_group: int = 1 << 20) -> int:
    """Range-group width for a HASH-DERIVED order key (uniform over the
    full signed-64 domain), sized so each contiguous ``order DIV width``
    group holds ~``rows_per_group`` rows in expectation.

    ``exclusive_prefix_sum``'s ``group_size`` is a width in ORDER-KEY
    units; for dense ids width ≈ rows-per-group, but for xxhash64 keys
    spread over 2^64 values a 2^20 width puts nearly every row in its
    own group — the per-group totals table becomes corpus-sized, its
    base-offset window degenerates to a single task per ``part_col``,
    and the broadcast of it would OOM the driver at 10^12 rows. Size
    the width to the KEY DOMAIN instead: 2^64 / (rows / rows_per_group).

    Clamped to 2^62 so the DIV stays inside BIGINT (a 2^62 width still
    yields 4 groups; the group-0 straddle of zero under trunc-division
    at most doubles one group's row count — still bounded).
    """
    groups = max(int(n_rows) // max(int(rows_per_group), 1), 1)
    return min(max((1 << 64) // groups, 1), 1 << 62)


def exclusive_prefix_sum(df: DataFrame, part_col: str, order_col: str,
                         val_col: str, out_col: str = "offset",
                         group_size: int = 1 << 20,
                         tiebreak_col: str | None = None) -> DataFrame:
    """Exclusive prefix sum of ``val_col`` over (``part_col``,
    ``order_col``) order, computed as a DISTRIBUTED two-phase scan.

    A naive ``sum().over(Window.partitionBy(part).orderBy(order))``
    funnels an entire partition value into ONE task — the classic
    global-cumsum scale wall (a 10^12-row source would serialize).
    Instead:

    1. bucket rows into contiguous ``order_col`` ranges of
       ``group_size`` ids and aggregate per-(part, group) subtotals —
       output has ~rows/group_size rows (tiny: 10^6 groups at 10^12
       rows with the default 2^20);
    2. a window over that SMALL table yields each group's base offset,
       broadcast-joined back; a bounded within-group window (≤
       group_size rows per task) adds the local exclusive cumsum.

    No task ever owns more than ``group_size`` rows, and the only wide
    exchanges are one tiny aggregate and one bounded sort.

    ``order_col`` must be an integral column — it is both the ordering
    key and the range-bucketing key (string ids would make ``DIV``
    return null and collapse every row into one group). Derive a
    numeric key first (e.g. ``substring(doc_id, 4).cast("long")``).

    ``group_size`` is a width in ORDER-KEY units, so it must be sized
    to the key's density: for DENSE ids (0..n) the default 2^20 means
    ~2^20 rows per group; for HASH-DERIVED keys uniform over int64,
    pass ``hash_order_bucket_width(n_rows)`` instead — the dense
    default would put every row in its own group and regrow the exact
    single-task window this two-phase scan exists to avoid.

    ``tiebreak_col`` makes the scan deterministic when ``order_col``
    values can collide (e.g. a hash-derived order key): rows with equal
    order land in the same range group, and the local window breaks the
    tie on it.
    """
    dt = df.schema[order_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"exclusive_prefix_sum: order_col {order_col!r} must be "
            f"integral (got {dt}) — it is range-bucketed with DIV")
    df = df.withColumn("__g", F.expr(f"{order_col} DIV {group_size}"))
    totals = df.groupBy(part_col, "__g").agg(F.sum(val_col).alias("__t"))
    w_base = (Window.partitionBy(part_col).orderBy("__g")
              .rowsBetween(Window.unboundedPreceding, -1))
    bases = (totals
             .withColumn("__base",
                         F.coalesce(F.sum("__t").over(w_base), F.lit(0)))
             .drop("__t"))
    order_keys = ([order_col, tiebreak_col] if tiebreak_col
                  else [order_col])
    w_local = (Window.partitionBy(part_col, "__g").orderBy(*order_keys)
               .rowsBetween(Window.unboundedPreceding, -1))
    return (df.join(F.broadcast(bases), [part_col, "__g"])
            .withColumn(out_col,
                        (F.col("__base")
                         + F.coalesce(F.sum(val_col).over(w_local),
                                      F.lit(0))).cast("long"))
            .drop("__g", "__base"))


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk into fixed context windows)
# ---------------------------------------------------------------------------


def pack_sequences(df: DataFrame, ctx_len: int, id_col: str = "doc_id",
                   tokens_col: str = "tokens", len_col: str = "n_tok",
                   part_col: str = "source",
                   group_size: int = 1 << 20,
                   order_col: str | None = None,
                   tiebreak_col: str | None = None,
                   sep_token: int | None = None) -> DataFrame:
    """Pack variable-length token sequences into fixed ``ctx_len``
    windows, GPT-style: concatenate all documents of a ``part_col``
    stream in ``id_col`` order, then cut every ``ctx_len`` tokens.
    Documents spanning a boundary are split across chunks; nothing is
    padded or dropped (the per-stream tail chunk may be short —
    ``full = false``).

    Output: one row per (part, chunk_id) with the packed ``tokens``
    array, ``n_docs`` contributing, ``n_tok_chunk`` and ``full``.

    Scale shape: the exclusive prefix sum is the two-phase distributed
    scan above; the chunk explode duplicates only boundary-spanning
    rows (≤ 2 chunks for any doc shorter than ctx_len); the final
    groupBy(part, chunk) moves each token exactly once, keyed on
    uniformly-sized chunks (≤ ctx_len tokens each) — skew-free by
    construction. Token identity/order is preserved end to end
    (per-row token-array equality is the pipeline invariant; see
    tests/test_tokens.py round-trip property).

    ``order_col`` overrides the concatenation order key (must be
    integral; defaults to ``id_col``). Passing a hash-derived order
    (e.g. ``xxhash64(doc_id)``) packs in DETERMINISTICALLY SHUFFLED
    corpus order — the training-data "global shuffle then chunk" step —
    with ``tiebreak_col=id_col`` keeping hash collisions stable.

    ``sep_token`` appends an end-of-document token to every document
    before chunking (the standard dataloader posture — attention masks
    key off it); the emitted ``doc_starts`` column lists the 0-based
    positions within each chunk where a document BEGINS, so boundary
    handling works with or without a separator.
    """
    okey = order_col or id_col
    cols = {part_col, id_col, tokens_col, len_col, okey}
    if tiebreak_col:
        cols.add(tiebreak_col)
    d = df.filter(F.col(len_col) > 0).select(*cols)
    if sep_token is not None:
        d = (d.withColumn(tokens_col,
                          F.concat(tokens_col,
                                   F.array(F.lit(sep_token)
                                           .cast("int"))))
             .withColumn(len_col, F.col(len_col) + 1))
    d = exclusive_prefix_sum(d, part_col, okey, len_col, "__off",
                             group_size, tiebreak_col=tiebreak_col)
    first = F.expr(f"__off DIV {ctx_len}")
    last = F.expr(f"(__off + {len_col} - 1) DIV {ctx_len}")
    e = d.withColumn("chunk_id", F.explode(F.sequence(first, last)))
    start = F.greatest(F.lit(0),
                       F.col("chunk_id") * ctx_len - F.col("__off"))
    length = (F.least(F.col(len_col),
                      (F.col("chunk_id") + 1) * ctx_len - F.col("__off"))
              - start)
    e = (e.withColumn("__piece",
                      F.slice(tokens_col, (start + 1).cast("int"),
                              length.cast("int")))
         .withColumn("__is_start", start == 0))
    pieces = F.sort_array(F.collect_list(
        F.struct(F.col("__off").alias("o"),
                 F.col("__piece").alias("p"),
                 F.col("__is_start").alias("s"))))
    # doc_starts: running-position fold over the sorted pieces — the
    # 0-based chunk position of each piece whose document begins here.
    doc_starts = F.aggregate(
        pieces,
        F.struct(F.lit(0).alias("pos"),
                 F.array().cast("array<int>").alias("arr")),
        lambda acc, x: F.struct(
            (acc["pos"] + F.size(x["p"])).alias("pos"),
            F.when(x["s"], F.concat(acc["arr"],
                                    F.array(acc["pos"].cast("int"))))
             .otherwise(acc["arr"]).alias("arr")),
        lambda acc: acc["arr"])
    packed = (e.groupBy(part_col, "chunk_id")
              .agg(F.flatten(F.transform(pieces, lambda s: s["p"]))
                   .alias(tokens_col),
                   doc_starts.alias("doc_starts"),
                   F.count("*").alias("n_docs")))
    return (packed
            .withColumn("n_tok_chunk", F.size(tokens_col))
            .withColumn("full", F.col("n_tok_chunk") == ctx_len))


# ---------------------------------------------------------------------------
# non-splitting document packing (SFT posture: docs stay whole, bins pad)
# ---------------------------------------------------------------------------


def _portable_order_key(col: Column) -> Column:
    """60-bit integer order key from an md5 prefix — reproducible by
    any engine (same bucket as deterministic_sample), unlike
    xxhash64/rand()."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def pack_documents(df: DataFrame, ctx_len: int, id_col: str = "doc_id",
                   tokens_col: str = "tokens", len_col: str = "n_tok",
                   part_col: str = "source",
                   cell_width: int = 1 << 56) -> DataFrame:
    """Pack documents into ``ctx_len`` bins WITHOUT splitting them —
    the SFT/finetune dataloader posture (attention cannot span a
    truncated document, so unlike ``pack_sequences`` a doc never
    straddles bins; bins are padded by the dataloader instead).

    Semantics: within each (``part_col``, cell) the documents are
    walked in deterministic md5-key order and greedily appended to the
    current bin; the bin closes when the next document would overflow
    ``ctx_len`` (first-fit-in-order — the streaming-friendly greedy,
    not best-fit-decreasing, so the walk order alone determines bins).
    Documents longer than ``ctx_len`` never enter the greedy; they are
    emitted whole as single-doc bins with ``overlong = true`` (callers
    route them to a long-context sink or drop them). ``pad`` counts the
    wasted tokens per bin — the metric an SFT pipeline tunes ctx/order
    against.

    Scale shape: the corpus is range-partitioned into cells by the
    60-bit order key (``cell = key DIV cell_width``; size
    ``cell_width ≈ 2^60 · rows_per_cell / n_rows`` so a cell holds
    ~rows_per_cell docs — the same key-domain sizing contract as
    ``hash_order_bucket_width``). The greedy walk runs per cell over
    NARROW columns only (key, id, n_tok) — token arrays never cross
    the Python boundary; the recurrence (bin base resets on overflow)
    is non-associative, so it has no Catalyst/prefix-sum form — this is
    the module's one Arrow-batched stage, and its per-iteration unit is
    a BIN (a C ``searchsorted`` over the cell's cumsum), not a row.
    Bin assembly is pure Catalyst: one unique-key join puts ``bin`` on
    the token rows and one skew-free groupBy (bins ≤ ctx_len tokens)
    reassembles, so tokens move through exactly two exchanges. Cell
    boundaries cost at most one underfull bin per cell — waste ≤
    ctx_len·n_cells tokens, negligible at the intended cell sizing.

    Output: (part, bin_key, n_docs, n_tok_bin, pad, overlong, tokens).
    """
    import pandas as pd  # noqa: F401 — applyInPandas contract
    from pyspark.sql import types as T

    d = (df.filter(F.col(len_col) > 0)
         .select(part_col, id_col, tokens_col, len_col)
         .withColumn("__k", _portable_order_key(F.col(id_col)))
         .withColumn("__cell", F.expr(f"__k DIV {cell_width}")))

    overlong = (d.filter(F.col(len_col) > ctx_len)
                .select(F.col(part_col),
                        F.concat(F.lit("L:"), F.col(id_col).cast("string"))
                         .alias("bin_key"),
                        F.lit(1).cast("long").alias("n_docs"),
                        F.col(len_col).cast("long").alias("n_tok_bin"),
                        F.lit(0).cast("long").alias("pad"),
                        F.lit(True).alias("overlong"),
                        F.col(tokens_col).alias(tokens_col)))

    fits = d.filter(F.col(len_col) <= ctx_len)
    narrow = fits.select(part_col, "__cell", "__k", id_col, len_col)

    id_field = df.schema[id_col]
    part_field = df.schema[part_col]
    out_schema = T.StructType([
        part_field, T.StructField("__cell", T.LongType()),
        id_field, T.StructField("__bin", T.LongType())])

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        pdf = pdf.sort_values(["__k", id_col], kind="mergesort")
        lens = pdf[len_col].to_numpy(dtype="int64")
        cum = np.cumsum(lens)
        bins = np.empty(len(lens), dtype="int64")
        start, base, b = 0, 0, 0
        while start < len(lens):
            j = int(np.searchsorted(cum, base + ctx_len, side="right"))
            j = max(j, start + 1)  # progress even on a pathological row
            bins[start:j] = b
            base = int(cum[j - 1])
            start, b = j, b + 1
        return pdf.assign(__bin=bins)[
            [part_col, "__cell", id_col, "__bin"]]

    assign = (narrow.groupBy(part_col, "__cell")
              .applyInPandas(greedy, schema=out_schema))

    packed = (fits.join(assign.drop(part_col), ["__cell", id_col])
              .groupBy(part_col, "__cell", "__bin")
              .agg(F.flatten(F.transform(
                       F.sort_array(F.collect_list(F.struct(
                           F.col("__k").alias("k"),
                           F.col(id_col).alias("i"),
                           F.col(tokens_col).alias("p")))),
                       lambda s: s["p"])).alias(tokens_col),
                   F.count("*").alias("n_docs"),
                   F.sum(len_col).cast("long").alias("n_tok_bin"))
              .select(F.col(part_col),
                      F.concat_ws(":", F.col("__cell"), F.col("__bin"))
                       .alias("bin_key"),
                      F.col("n_docs"),
                      F.col("n_tok_bin"),
                      (F.lit(ctx_len) - F.col("n_tok_bin")).cast("long")
                       .alias("pad"),
                      F.lit(False).alias("overlong"),
                      F.col(tokens_col)))
    return packed.unionByName(overlong)


# ---------------------------------------------------------------------------
# token n-grams + benchmark decontamination
# ---------------------------------------------------------------------------


def token_ngrams(df: DataFrame, id_cols: list[str], tokens_col: str,
                 n: int) -> DataFrame:
    """Explode a token array into its contiguous n-grams, each rendered
    as an ``_``-joined id string (one output row per n-gram occurrence).
    Pure HOF + explode: no UDF, map-side only.

    Sequences shorter than ``n`` yield no grams — guarded explicitly,
    because Spark's ``sequence(1, size-n+1)`` DESCENDS when the stop is
    < 1 (it would emit bogus negative-start slices for short docs)."""
    idx = F.sequence(F.lit(1), F.size(tokens_col) - (n - 1))
    grams = F.when(
        F.size(tokens_col) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                "_", F.slice(tokens_col, i, n).cast("array<string>"))))\
        .otherwise(F.array().cast("array<string>"))
    return df.select(*id_cols, F.explode(grams).alias("ngram"))


def decontaminate(train: DataFrame, bench: DataFrame, n: int = 5,
                  id_col: str = "doc_id", tokens_col: str = "tokens",
                  keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Benchmark n-gram decontamination: per training document, count
    token n-grams that also occur in the benchmark set; rows with
    ``n_hits ≥ 1`` are the contaminated documents to quarantine.

    Scale shape: the benchmark gram set is distinct-hashed and
    BROADCAST (held-out benchmarks are 10^5–10^7 grams vs 10^12
    training rows), so the training side is a map-only explode +
    broadcast semi-probe + partial-aggregated per-doc count — a single
    shuffle on ``id_col``, no big-big join.
    """
    bench_grams = (token_ngrams(bench, [], tokens_col, n)
                   .select(F.md5("ngram").alias("gh"))
                   .distinct())
    train_grams = (token_ngrams(train, [id_col, *keep_cols], tokens_col, n)
                   .withColumn("gh", F.md5("ngram")))
    return (train_grams.join(F.broadcast(bench_grams), "gh")
            .groupBy(id_col, *keep_cols)
            .agg(F.count("*").alias("n_hits")))


# ---------------------------------------------------------------------------
# exact substring-span dedup (suffix-array-style duplicated-span removal)
# ---------------------------------------------------------------------------


def substring_windows(df: DataFrame, id_col: str = "doc_id",
                      tokens_col: str = "tokens",
                      length: int = 50,
                      hash_fn: str = "md5") -> DataFrame:
    """All contiguous ``length``-token windows of every document, as
    ``(id, pos, wkey)`` with ``pos`` 1-based and ``wkey`` a hash of
    the window content. Map-side only (explode + slice + hash inside
    one projection); the window CONTENT never leaves the task — only
    the fixed-width key is shuffled, regardless of ``length``.
    Documents shorter than ``length`` yield no windows (same
    descending-``sequence`` guard as ``token_ngrams``).

    ``hash_fn="md5"`` (default) hashes the space-joined content string
    — 128-bit, collision-free in practice at any corpus size, and
    reproducible by any SQL engine (the oracle path). ``"xxhash64"``
    hashes the token-array slice DIRECTLY in the JVM — no string
    build, an 8-byte key on the exchange (~60% less shuffle), the
    production path; pytest gates its marked-set equivalence to the
    md5 form (64-bit birthday risk starts to matter only past ~10^9
    windows, and a collision merely over-marks one window)."""
    starts = F.sequence(F.lit(1), F.size(tokens_col) - (length - 1))
    win = F.slice("__t", F.col("pos"), length)
    key = (F.xxhash64(win) if hash_fn == "xxhash64"
           else F.md5(F.concat_ws(" ", win.cast("array<string>"))))
    return (df.filter(F.size(tokens_col) >= length)
            .select(id_col, F.col(tokens_col).alias("__t"),
                    F.explode(starts).alias("pos"))
            .select(id_col, "pos", key.alias("wkey")))


def substring_dedup(df: DataFrame, length: int = 50,
                    id_col: str = "doc_id", tokens_col: str = "tokens",
                    materialize: str | None = "disk",
                    hash_fn: str = "md5") -> DataFrame:
    """Exact duplicated-span removal, the token-level third leg next to
    MinHash doc dedup and C4 line dedup (the suffix-array substring
    dedup of Lee et al. 2022, re-expressed as its rolling-window
    equivalent: a span of ``>= length`` tokens is duplicated iff every
    ``length``-window inside it is duplicated, so window-level marking
    removes exactly the maximal duplicated spans).

    Semantics (deterministic, engine-portable): a window occurring >= 2
    times corpus-wide keeps only its globally-first occurrence (min
    ``(id, pos)``); every other occurrence marks its ``length``
    positions for removal. Marked intervals are merged per document and
    the surviving tokens are re-concatenated in order. Output = input
    rows with ``tokens_col`` rewritten plus ``n_before``/``n_removed``.

    Scale shape: one shuffle on the window key (count + global-min in
    a single hash aggregate, map-side partials), one hash join of
    occurrences against the duplicated-key table (duplicate keys are a
    small fraction of windows → AQE broadcasts it), one shuffle on
    ``id_col`` to gather a document's marked starts, and one join back
    onto the input (removal-touched docs only → broadcast-sized at
    realistic dup rates). The window explode is an EXPANSION, so it
    follows the NOTES.md rule: ``materialize="disk"`` persists it
    DISK_ONLY across its two plan branches. Per-doc rewrite is pure
    Catalyst: marked starts fold into disjoint intervals (so a fully-
    boilerplate document costs O(1) membership tests per token, not
    O(n)), then ``filter(tokens, (t, i) -> no interval covers i)``.
    """
    occ = substring_windows(df, id_col, tokens_col, length, hash_fn)
    if materialize == "disk":
        occ = occ.persist(StorageLevel.DISK_ONLY)
    dup = (occ.groupBy("wkey")
           .agg(F.count("*").alias("c"),
                F.min(F.struct(F.col(id_col).alias("i"),
                               F.col("pos").alias("p"))).alias("keep"))
           .filter(F.col("c") >= 2)
           .select("wkey", "keep"))
    marked = (occ.join(dup, "wkey")
              .filter(~((F.col(id_col) == F.col("keep.i"))
                        & (F.col("pos") == F.col("keep.p"))))
              .select(id_col, "pos"))
    last = lambda a, f: F.element_at(a, -1)[f]  # noqa: E731
    merge = F.aggregate(
        "__starts", F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= last(acc, "hi")),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.struct(
                         last(acc, "lo").alias("lo"),
                         F.greatest(last(acc, "hi"),
                                    s + length).alias("hi"))))
        ).otherwise(
            F.concat(acc, F.array(F.struct(
                s.alias("lo"), (s + length).alias("hi"))))))
    iv = (marked.groupBy(id_col)
          .agg(F.sort_array(F.collect_list("pos")).alias("__starts"))
          .select(id_col, merge.alias("__iv")))
    out = df.join(iv, id_col, "left")
    covered = lambda p: F.exists(  # noqa: E731
        "__iv", lambda v: (v["lo"] <= p) & (p < v["hi"]))
    clean = F.when(F.col("__iv").isNull(), F.col(tokens_col)).otherwise(
        F.filter(tokens_col, lambda t, i: ~covered(i + 1)))
    from fluent_bit_spark.caching import carry
    res = (out.withColumn("n_before", F.size(tokens_col).cast("long"))
           .withColumn(tokens_col, clean)
           .withColumn("n_removed",
                       F.col("n_before") - F.size(tokens_col))
           .drop("__iv"))
    return carry(res, occ) if materialize == "disk" else res


# ---------------------------------------------------------------------------
# line-level ops (C4-style corpus line dedup; Gopher repetition stats)
# ---------------------------------------------------------------------------


def doc_lines(df: DataFrame, id_col: str, text_col: str,
              line_words: int,
              keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Split whitespace-tokenized text into fixed ``line_words``-word
    "lines" (the de-dup unit), exploded with their position. Documents
    with natural newlines would split on those instead; the driver
    corpus is single-line, so the unit is a word-aligned chunk —
    identical mechanics either way."""
    words = F.split(F.col(text_col), " ")
    nlines = F.expr(
        f"(size(split({text_col}, ' ')) + {line_words - 1})"
        f" DIV {line_words}")
    lines = F.transform(
        F.sequence(F.lit(1), nlines),
        lambda i: F.concat_ws(
            " ", F.slice(words, (i - 1) * line_words + 1, line_words)))
    return df.select(id_col, *keep_cols,
                     F.posexplode(lines).alias("line_no", "line"))


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", line_words: int = 6,
               max_occ: int = 2,
               keep_cols: tuple[str, ...] = (),
               materialize: str | None = "disk") -> DataFrame:
    """C4-style cross-corpus line deduplication: any line occurring more
    than ``max_occ`` times ANYWHERE in the corpus is removed from every
    document; documents are reassembled in original line order.

    Output: one row per input document — reassembled ``text`` plus
    ``n_kept`` / ``n_dropped`` line counts (a fully-boilerplate document
    comes back with empty text rather than vanishing).

    Scale shape: one shuffle keyed on the line hash for the global
    occurrence count (map-side partial aggregation; AQE handles skewed
    boilerplate lines), one hash-join of lines against that count table
    (AQE broadcasts it when the distinct-line set is small), one shuffle
    back on ``id_col`` to reassemble. Tokens move twice — the minimum
    for a global-count + rewrite semantics.

    ``materialize="disk"`` persists the exploded line frame DISK_ONLY
    across its two plan branches (count build + join probe). The line
    explode is an EXPANSION, so it follows the NOTES.md rule — spill to
    disk, never memory-pin — and the re-evaluation it avoids dominated
    the wall (measured 55.6s → 13.7s at 1.28M lines; the probe-side
    re-explode burned ~10× the count-side's task-seconds). Pass None to
    keep the plan stateless (tiny inputs, or callers managing their own
    persistence); the persisted frame is released by cache eviction or
    the caller's clearCache.
    """
    ln = (doc_lines(df, id_col, text_col, line_words, keep_cols)
          .withColumn("lh", F.md5("line")))
    if materialize == "disk":
        ln = ln.persist(StorageLevel.DISK_ONLY)
    counts = ln.groupBy("lh").agg(F.count("*").alias("cnt"))
    keep = F.col("cnt") <= max_occ
    joined = ln.join(counts, "lh")
    passthrough = [F.first(c).alias(c) for c in keep_cols]
    res = (joined.groupBy(id_col)
           .agg(*passthrough,
                F.sum(keep.cast("long")).alias("n_kept"),
                F.sum((~keep).cast("long")).alias("n_dropped"),
                F.concat_ws(
                    " ",
                    F.flatten(F.transform(
                        F.sort_array(F.collect_list(F.struct(
                            F.col("line_no").alias("o"),
                            F.when(keep, F.array("line"))
                             .otherwise(F.array().cast("array<string>"))
                             .alias("p")))),
                        lambda s: s["p"]))).alias(text_col)))
    from fluent_bit_spark.caching import carry
    return carry(res, ln) if materialize == "disk" else res


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     line_words: int = 6) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality rules):
    per document, the fraction of line occurrences that are duplicates
    and the fraction of characters inside duplicated lines. Two local
    hash aggregates keyed by (doc, line) then (doc) — a document's
    lines land in one reduce task each, no global state."""
    ln = doc_lines(df, id_col, text_col, line_words)
    per_line = (ln.groupBy(id_col, "line")
                .agg(F.count("*").alias("c"),
                     F.length(F.first("line")).alias("chars")))
    dup = F.col("c") > 1
    return (per_line.groupBy(id_col)
            .agg(F.sum("c").alias("n_lines"),
                 F.count("*").alias("n_distinct"),
                 (F.lit(1.0) - F.count("*") / F.sum("c"))
                 .alias("dup_line_frac"),
                 (F.sum(F.when(dup, F.col("c") * F.col("chars"))
                        .otherwise(F.lit(0)))
                  / F.sum(F.col("c") * F.col("chars")))
                 .alias("dup_char_frac")))


# ---------------------------------------------------------------------------
# token-budget mixture sampling
# ---------------------------------------------------------------------------


def mixture_sample(df: DataFrame, weight_pct: Column, budget_tokens: Column,
                   part_col: str = "source", len_col: str = "n_tok",
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-source mixture sampling toward a token budget:
    source ``s`` targets ``budget_tokens * weight_pct(s) / 100`` tokens;
    its documents are kept when a stable content-hash bucket of
    ``id_col`` falls under the source's rate (ppm). Reproducible across
    runs, partitionings, and engines — no ``rand()``.

    ``weight_pct`` is a Column over ``df``'s columns (evaluated per
    source); ``budget_tokens`` a Column over the corpus-total frame
    (e.g. ``F.expr("corpus_tokens DIV 4")``). Rates are computed in
    pure BIGINT arithmetic (no float rounding to diverge between
    engines).

    Scale shape: two tiny aggregates (per-source totals, corpus total)
    broadcast back onto the fact table; the sample itself is a map-only
    filter. Adding a source or rescaling the budget never reshuffles
    the corpus.
    """
    totals = df.groupBy(part_col).agg(F.sum(len_col).alias("__tot"))
    corpus = totals.agg(F.sum("__tot").alias("corpus_tokens"))
    rates = (totals.crossJoin(F.broadcast(corpus))
             .withColumn("__budget", budget_tokens.cast("long"))
             .withColumn("__pct", weight_pct.cast("long"))
             .withColumn("ppm",
                         F.least(F.lit(1000000).cast("long"),
                                 F.expr("(__budget * __pct * 10000)"
                                        " DIV __tot")))
             .select(part_col, "ppm"))
    bucket = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7),
                     16, 10).cast("long") % 1000000)
    return (df.join(F.broadcast(rates), part_col)
            .filter(bucket < F.col("ppm")))


# ---------------------------------------------------------------------------
# unigram-LM surprisal (CCNet-style perplexity quality signal)
# ---------------------------------------------------------------------------


def unigram_surprisal(df: DataFrame, tokens_col: str = "tokens",
                      id_cols: tuple[str, ...] = ("doc_id", "source"),
                      millinats_scale: int = 1000) -> DataFrame:
    """Per-document unigram-LM surprisal — the distributable core of
    the CCNet/Wikipedia-LM perplexity quality filter: train a unigram
    model on the corpus itself (token frequencies), then score each
    document by the sum of its tokens' surprisal ``-ln(c/total)``.

    Output: ``id_cols + (nll_millinats: bigint, n_tok_scored: bigint)``
    — mean surprisal is ``nll_millinats DIV n_tok_scored``; high values
    mark low-likelihood (junk/outlier) documents.

    Scale shape (10^12 sequences):
    - the frequency table is VOCAB-sized (10^4-10^6 rows) regardless of
      corpus size: explode is narrow, the groupBy(tok) exchange carries
      map-side-combined partials (per-partition distinct tokens only),
      and the resulting model broadcasts;
    - the corpus total is a 1-row broadcast (the crossJoin below is a
      broadcast of that single row, not a cartesian blow-up);
    - per-token surprisal is rounded to INTEGER milli-nats BEFORE the
      per-document sum, so the aggregate is exact BIGINT arithmetic —
      order-independent and engine-portable, where a double sum would
      be partition-order dependent;
    - the per-document agg partial-combines to one narrow row per doc
      on the map side (explode keeps a doc's tokens co-partitioned), so
      the final exchange carries ~one row per document.
    """
    model = unigram_model(df, tokens_col=tokens_col,
                          millinats_scale=millinats_scale)
    return score_tokens(df, model, tokens_col=tokens_col,
                        id_cols=id_cols)


def unigram_model(df: DataFrame, tokens_col: str = "tokens",
                  millinats_scale: int = 1000) -> DataFrame:
    """Train the unigram surprisal model alone: ``(tok, nll_milli)``,
    vocab-bounded. The train-once/score-many half of
    :func:`unigram_surprisal` — persist this as a maintained table and
    score every later batch (or stream micro-batch) against it with
    :func:`score_tokens` without re-training."""
    ex = df.select(F.explode(F.col(tokens_col)).alias("tok"))
    freq = ex.groupBy("tok").agg(F.count("*").alias("c"))
    # corpus total == sum of freq counts, but computed from the array
    # sizes directly: one narrow agg over the un-exploded frame instead
    # of a second full explode→agg branch (Catalyst does not dedupe the
    # freq subtree across the two uses)
    total = df.agg(F.sum(F.size(F.col(tokens_col)))
                   .cast("long").alias("t"))
    return (freq.crossJoin(F.broadcast(total))
            .select("tok",
                    F.round(-F.log(F.col("c") / F.col("t"))
                            * millinats_scale)
                     .cast("long").alias("nll_milli")))


def score_tokens(df: DataFrame, model: DataFrame,
                 tokens_col: str = "tokens",
                 id_cols: tuple[str, ...] = ("doc_id", "source")
                 ) -> DataFrame:
    """Score documents against a PROVIDED ``(tok, nll_milli)`` model
    table (see :func:`unigram_model`): explode → broadcast join →
    exact BIGINT per-document sums. Out-of-vocabulary tokens are
    simply not scored (inner join) — ``n_tok_scored < n_tok`` is the
    OOV audit signal when scoring data the model never saw."""
    ex = df.select(*id_cols, F.explode(F.col(tokens_col)).alias("tok"))
    return (ex.join(F.broadcast(model), "tok")
              .groupBy(*[F.col(c) for c in id_cols])
              .agg(F.sum("nll_milli").alias("nll_millinats"),
                   F.count("*").alias("n_tok_scored")))


def bigram_surprisal(df: DataFrame, tokens_col: str = "tokens",
                     id_cols: tuple[str, ...] = ("doc_id", "source"),
                     millinats_scale: int = 1000,
                     broadcast_model: bool = False) -> DataFrame:
    """Per-document bigram-LM surprisal — one order up from
    :func:`unigram_surprisal`, the next step toward the CCNet 5-gram
    KenLM quality filter: train conditional bigram probabilities on the
    corpus itself, score each document by ``sum -ln(c(t1,t2)/c1(t1))``
    over its adjacent token pairs. No smoothing/backoff is needed
    because the model scores the corpus it was trained on — every
    scored bigram is observed by construction (an out-of-corpus scorer
    would need it; that variant is a join-type change, not a new plan).

    Output: ``id_cols + (nll_millinats: bigint, n_bigrams_scored:
    bigint)``; documents with fewer than 2 tokens produce no pairs and
    drop out (callers left-join the result back if they need them).

    Scale shape (10^12 sequences) — deliberately DIFFERENT from the
    unigram scorer:
    - the model is keyed by distinct ADJACENT PAIRS, which grows with
      the corpus (10^9-10^10 rows at web scale) and is NOT broadcastable
      — scoring is a shuffle hash join on (t1, t2). The model side
      carries exactly one row per key, so AQE's skew-join split handles
      the frequent-bigram hot keys (the 1-row build side replicates);
      ``broadcast_model=True`` is the small-corpus fast path.
    - context totals c1 come from re-aggregating the bigram counts
      (model-sized input), never from a second corpus pass;
    - per-pair surprisal is rounded to INTEGER milli-nats before the
      per-document BIGINT sum — order-independent, engine-portable
      (same contract as every scorer in this module).
    """
    return (ngram_surprisal(df, order=2, tokens_col=tokens_col,
                            id_cols=id_cols,
                            millinats_scale=millinats_scale,
                            broadcast_model=broadcast_model)
            .withColumnRenamed("n_ngrams_scored", "n_bigrams_scored"))


def ngram_surprisal(df: DataFrame, order: int = 3,
                    tokens_col: str = "tokens",
                    id_cols: tuple[str, ...] = ("doc_id", "source"),
                    millinats_scale: int = 1000,
                    broadcast_model: bool = False) -> DataFrame:
    """Per-document ``order``-gram conditional surprisal — the general
    form of :func:`bigram_surprisal` on the CCNet/KenLM ladder
    (order 5 is the published CCNet filter): train
    ``P(t_n | t_1..t_{n-1}) = c(gram) / c(context)`` on the corpus
    itself, score each document by the milli-nat sum over its grams.
    Every scored gram is observed by construction (train == score
    corpus), so no smoothing/backoff enters the chain and the score
    stays EXACT integer arithmetic; for train-once/score-many use
    :func:`score_tokens`-style join semantics per order and interpolate
    (a join-type change, not a new plan).

    Output: ``id_cols + (nll_millinats: bigint, n_ngrams_scored:
    bigint)``; documents shorter than ``order`` tokens produce no grams
    and drop out.

    Scale shape (10^12 sequences): the model is keyed by distinct
    ``order``-grams — corpus-sized, NOT broadcastable — so scoring is
    a shuffle hash join on the gram key with AQE skew-split handling
    the hot grams (1-row build side). Context totals re-aggregate the
    gram counts (model-sized input, never a second corpus pass), and
    per-gram surprisal rounds to INTEGER milli-nats before the BIGINT
    per-document sum. Cost vs order: the explode is order-independent
    (one row per position), only the key width grows.
    """
    if order < 2:
        raise ValueError("ngram_surprisal: order must be >= 2 "
                         "(order 1 is unigram_surprisal)")
    c, n = tokens_col, order
    tcols = [f"t{j + 1}" for j in range(n)]
    fields = ", ".join(f"{c}[i + {j}] AS t{j + 1}" for j in range(n))
    # pre-filter short docs: sequence(0, size-n) would count DOWN for
    # size < n (Spark sequence steps -1 when stop < start)
    gram_expr = F.expr(
        f"transform(sequence(0, size({c}) - {n}), i -> struct({fields}))")
    grams = (df.filter(F.size(F.col(c)) >= n)
               .select(*id_cols, F.explode(gram_expr).alias("g"))
               .select(*id_cols,
                       *[F.col(f"g.{t}").alias(t) for t in tcols]))
    gc = grams.groupBy(*tcols).agg(F.count("*").alias("c"))
    # gc feeds BOTH the context-total agg and the model join; persist
    # the REDUCED gram-count frame so the explode + count shuffle runs
    # once per action (the raw gram expansion stays un-persisted — its
    # second consumer, the scoring join, re-derives it map-only, the
    # same accepted posture as the unigram scorer's two explodes)
    from pyspark import StorageLevel
    gc = gc.persist(StorageLevel.MEMORY_AND_DISK)
    ctx = gc.groupBy(*tcols[:-1]).agg(F.sum("c").alias("cc"))
    model = (gc.join(ctx, tcols[:-1])
               .select(*tcols,
                       F.round(-F.log(F.col("c") / F.col("cc"))
                               * millinats_scale)
                        .cast("long").alias("nll_milli")))
    if broadcast_model:
        model = F.broadcast(model)
    from fluent_bit_spark.caching import carry
    return carry(
        grams.join(model, tcols)
             .groupBy(*[F.col(x) for x in id_cols])
             .agg(F.sum("nll_milli").alias("nll_millinats"),
                  F.count("*").alias("n_ngrams_scored")),
        gc)


def _gram_positions(df: DataFrame, n: int, tokens_col: str,
                    *keep_cols: str) -> DataFrame:
    """One row per full-context order-``n`` position: ``keep_cols +
    (t1..tn)``. Explode stays narrow (struct of n ints per position);
    docs shorter than ``n`` produce no rows."""
    c = tokens_col
    fields = ", ".join(f"{c}[i + {j}] AS t{j + 1}" for j in range(n))
    gram_expr = F.expr(
        f"transform(sequence(0, size({c}) - {n}), i -> struct({fields}))")
    return (df.filter(F.size(F.col(c)) >= n)
              .select(*keep_cols, F.explode(gram_expr).alias("g"))
              .select(*keep_cols,
                      *[F.col(f"g.t{j + 1}").alias(f"t{j + 1}")
                        for j in range(n)]))


def ngram_model(df: DataFrame, order: int, tokens_col: str = "tokens",
                millinats_scale: int = 1000) -> DataFrame:
    """Train a standalone conditional ``order``-gram model table
    ``(t1..tk, nll_milli)`` — the train-once half of the n-gram ladder
    (order 1 delegates to :func:`unigram_model`, key renamed ``t1``).
    Counts run over ALL order-k positions of ``df``. The returned frame
    CARRIES its persisted gram-count intermediate (see caching.carry);
    score-side callers release() after their action.

    Scale shape: same as :func:`ngram_surprisal`'s in-line model —
    vocab-bounded at order 1 (broadcastable), corpus-sized gram keys
    above (shuffle join + AQE skew split on the scoring side)."""
    if order == 1:
        return (unigram_model(df, tokens_col=tokens_col,
                              millinats_scale=millinats_scale)
                .withColumnRenamed("tok", "t1"))
    tcols = [f"t{j + 1}" for j in range(order)]
    grams = _gram_positions(df, order, tokens_col)
    gc = grams.groupBy(*tcols).agg(F.count("*").alias("c"))
    from pyspark import StorageLevel
    gc = gc.persist(StorageLevel.MEMORY_AND_DISK)
    ctx = gc.groupBy(*tcols[:-1]).agg(F.sum("c").alias("cc"))
    from fluent_bit_spark.caching import carry
    return carry(
        gc.join(ctx, tcols[:-1])
          .select(*tcols,
                  F.round(-F.log(F.col("c") / F.col("cc"))
                          * millinats_scale)
                   .cast("long").alias("nll_milli")),
        gc)


def backoff_surprisal(train: DataFrame, score: DataFrame,
                      order: int = 3, tokens_col: str = "tokens",
                      id_cols: tuple[str, ...] = ("doc_id", "source"),
                      millinats_scale: int = 1000,
                      backoff_penalty_milli: int = 916,
                      oov_nll_milli: int = 20_000,
                      broadcast_models: bool = False) -> DataFrame:
    """Stupid-backoff ``order``-gram scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the
    train-once/score-many posture where backoff actually fires: models
    of orders 1..n are trained on ``train``; each full-context position
    of ``score`` is scored by the HIGHEST order whose gram the train
    corpus contains, with a fixed per-level penalty (stupid backoff's
    ``α = 0.4`` → ``-ln α ≈ 0.9163`` ≈ the 916 milli-nat default)
    instead of a normalized discount — the published web-scale choice
    precisely because it needs no second pass over the counts.
    Positions unseen even as unigrams score ``oov_nll_milli`` plus the
    full penalty ladder.

    Per-level surprisal is rounded to INTEGER milli-nats at model-build
    time and penalties are integers, so per-document sums stay exact
    BIGINT arithmetic — order-independent and engine-portable (the
    module-wide scorer contract).

    Output: ``id_cols + (nll_millinats, n_scored, n_full, n_oov)`` —
    ``n_full`` counts top-order hits, ``n_oov`` counts full misses;
    ``n_scored - n_full - n_oov`` positions used a backoff level.

    Scale shape (10^12 sequences): the unigram model is vocab-bounded
    and broadcast; higher orders are corpus-sized gram tables joined by
    shuffle hash join with AQE skew split (1-row build side per key) —
    one left join per order, each keyed on a suffix of the position's
    gram. Models are trained ONCE (one corpus pass per order over
    ``train``) and reusable across score batches; the result frame
    carries the models' persisted intermediates for release()."""
    if order < 2:
        raise ValueError("backoff_surprisal: order must be >= 2")
    n = order
    models = {k: ngram_model(train, k, tokens_col=tokens_col,
                             millinats_scale=millinats_scale)
              for k in range(1, n + 1)}
    j = _gram_positions(score, n, tokens_col, *id_cols)
    for k in range(n, 0, -1):
        mk = models[k].select(
            *[F.col(f"t{i + 1}").alias(f"b{k}_{i + 1}")
              for i in range(k)],
            F.col("nll_milli").alias(f"nll_{k}"))
        if broadcast_models or k == 1:
            mk = F.broadcast(mk)
        cond = None
        for i in range(k):
            eq = F.col(f"t{n - k + i + 1}") == F.col(f"b{k}_{i + 1}")
            cond = eq if cond is None else cond & eq
        j = j.join(mk, cond, "left")
    pos_nll = F.coalesce(
        *[F.col(f"nll_{k}")
          + F.lit((n - k) * backoff_penalty_milli).cast("long")
          for k in range(n, 0, -1)],
        F.lit(oov_nll_milli
              + (n - 1) * backoff_penalty_milli).cast("long"))
    is_full = F.col(f"nll_{n}").isNotNull()
    is_oov = None
    for k in range(n, 0, -1):
        miss = F.col(f"nll_{k}").isNull()
        is_oov = miss if is_oov is None else is_oov & miss
    from fluent_bit_spark.caching import carry
    return carry(
        j.groupBy(*[F.col(c) for c in id_cols])
         .agg(F.sum(pos_nll).alias("nll_millinats"),
              F.count("*").alias("n_scored"),
              F.sum(is_full.cast("long")).alias("n_full"),
              F.sum(is_oov.cast("long")).alias("n_oov")),
        *models.values())


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document
# ---------------------------------------------------------------------------


def tfidf_topk(df: DataFrame, k: int = 3, tokens_col: str = "tokens",
               id_col: str = "doc_id", idf_scale: int = 1_000_000
               ) -> DataFrame:
    """Top-``k`` most characteristic tokens per document by TF-IDF,
    in EXACT integer arithmetic: ``score = tf * ((N * idf_scale) DIV
    df_t)`` — term frequency times a fixed-point inverse document
    frequency (parts-per-``idf_scale``), so scores and therefore ranks
    are identical in any engine (a float idf would make near-ties
    engine-dependent). Ties break by token id (deterministic output).

    Output: (id_col, tok, tf, score, rank), rank 1..k.

    Scale shape (10^12 sequences):
    - tf: explode stays narrow; the (doc, tok) hash agg partial-
      combines map-side, and its exchange is keyed by (doc, tok) —
      uniform, skew-free;
    - document frequency: VOCAB-sized (distinct-doc counts per token,
      two-level agg), broadcast back;
    - N is a 1-row broadcast;
    - the top-k window partitions by doc — one bounded exchange keyed
      by the id, never a global sort.
    """
    ex = df.select(id_col, F.explode(F.col(tokens_col)).alias("tok"))
    tf = ex.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    # tf feeds BOTH the document-frequency agg and the scoring join;
    # without a persist the explode + (doc,tok) agg runs twice per
    # action. tf is the REDUCED frame (unique (doc,tok) rows), far
    # narrower than the exploded tokens — MEMORY_AND_DISK keeps the big
    # expansion un-persisted while halving the heavy path.
    from pyspark import StorageLevel
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = tf.groupBy("tok").agg(
        F.count("*").alias("df_t"))          # docs containing tok
    n_docs = df.select(F.count("*").alias("n_docs"))
    idf = (dfreq.crossJoin(F.broadcast(n_docs))
           .select("tok", F.expr(f"(n_docs * CAST({idf_scale} AS BIGINT))"
                                 " DIV df_t").alias("idf_ppm")))
    scored = (tf.join(F.broadcast(idf), "tok")
              .withColumn("score", F.col("tf") * F.col("idf_ppm")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    from fluent_bit_spark.caching import carry
    return carry(
        scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .select(id_col, "tok", "tf", "score", "rank"),
        tf)


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (inverted-index scoring, integer-exact tf norm)
# ---------------------------------------------------------------------------


def bm25_topk(df: DataFrame, queries: DataFrame, k: int = 10,
              tokens_col: str = "tokens", id_col: str = "doc_id"
              ) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25 — the sparse
    half of corpus retrieval (decontamination-by-retrieval, RAG
    indexing, hard-negative mining). ``queries`` is a small
    (query_id, term) table of bag-of-terms queries; terms absent from
    a document simply contribute nothing (no OOV special-casing).

    Scoring is Lucene's non-negative variant with k1 = 1.2, b = 0.75
    held as EXACT rationals (11/5, 3/4) so the tf normalization is
    pure BIGINT arithmetic — with ``avgdl = T DIV N`` (truncated mean
    doc length) the per-term factor reduces to::

        norm_milli = (22000·tf·avgdl) DIV (10·tf·avgdl + 3·avgdl + 9·dl)

    (multiply numerator and denominator of tf·(k1+1)/(tf + k1·(1−b +
    b·dl/avgdl)) by 10·avgdl). Every operand is doc-length-scaled, so
    nothing overflows at any corpus size. The idf is the one float
    step, snapped to INTEGER milli-nats exactly like the surprisal
    family (NOTES #25 posture): ``idf_milli = round(ln((2N+2)/(2·df_t
    +1))·1000)`` — the ratio of two exact BIGINTs, identical across
    engines. ``score_micro = Σ idf_milli·norm_milli`` per (query,
    doc); ties break on the doc id (deterministic output).

    Output: (query_id, doc_id, score_micro, rank), rank 1..k.

    Scale shape (10^12 docs):
    - the explode is filtered by a BROADCAST join against the query
      terms before any aggregation — only matching (doc, term) rows
      survive the map side;
    - tf partial-combines map-side keyed by (doc, dl, query, term) —
      uniform, skew-free; it feeds BOTH df_t and scoring, so it is
      persisted once (the tfidf_topk fix class) and carried;
    - df_t is exact from the matched rows (every doc containing a
      query term survives the semi join) and query-vocab-bounded;
      corpus totals are a 1-row broadcast;
    - the final top-k partitions by query_id.
    """
    if k <= 0:
        raise ValueError("bm25_topk: k must be positive")
    d = df.filter(F.size(F.col(tokens_col)) > 0)
    tot = d.agg(F.count("*").alias("n"),
                F.sum(F.size(F.col(tokens_col))).cast("long").alias("t"))
    ex = d.select(id_col,
                  F.size(F.col(tokens_col)).cast("long").alias("dl"),
                  F.explode(F.col(tokens_col)).alias("tok"))
    matched = ex.join(F.broadcast(queries),
                      ex["tok"] == queries["term"]).drop("term")
    tf = (matched.groupBy(id_col, "dl", "query_id", "tok")
          .agg(F.count("*").alias("tf")))
    from pyspark import StorageLevel
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    dft = (tf.select(id_col, "tok").distinct()
           .groupBy("tok").agg(F.count("*").alias("df_t")))
    idf = (dft.crossJoin(F.broadcast(tot))
           .select("tok",
                   F.round(F.log((2 * F.col("n") + 2).cast("double")
                                 / (2 * F.col("df_t") + 1).cast("double"))
                           * 1000).cast("long").alias("idf_milli")))
    scored = (tf.join(F.broadcast(idf), "tok")
              .crossJoin(F.broadcast(tot.select(
                  F.expr("t DIV n").alias("avgdl"))))
              .withColumn(
                  "norm_milli",
                  F.expr("(22000 * tf * avgdl) DIV "
                         "(10 * tf * avgdl + 3 * avgdl + 9 * dl)"))
              .groupBy("query_id", id_col)
              .agg(F.sum(F.col("idf_milli") * F.col("norm_milli"))
                   .cast("long").alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micro"),
                                               F.asc(id_col))
    from fluent_bit_spark.caching import carry
    return carry(
        scored.withColumn("rank",
                          F.row_number().over(w).cast("long"))
              .filter(F.col("rank") <= k)
              .select("query_id", id_col, "score_micro", "rank"),
        tf)


# ---------------------------------------------------------------------------
# Naive-Bayes log-odds quality classifier (CCNet/fasttext-style filter)
# ---------------------------------------------------------------------------


def nb_quality_score(df: DataFrame, label: Column,
                     text_col: str = "text",
                     id_cols: tuple[str, ...] = ("doc_id", "source"),
                     alpha: int = 1,
                     millinats_scale: int = 1000) -> DataFrame:
    """One-pass Naive-Bayes quality classifier: train per-token
    log-odds weights from a boolean ``label`` (the "high-quality
    exemplar" class — a trusted source, a curated subset) and score
    every document by its summed token log-likelihood-ratio. The
    distributable core of the CCNet/fasttext quality-filter recipe,
    with a CLOSED-FORM fit — no iterative optimizer, so one shuffle
    trains the model at any corpus size.

    Output: ``id_cols + (llr_millinats, n_tok, pred)`` — positive
    sums read "looks like the exemplar class".

    Scale shape (same posture as :func:`unigram_surprisal`):
    - the weight table is VOCAB-sized regardless of corpus size
      (map-side-combined conditional counts), then broadcasts;
    - class totals and vocab size come from one agg over the
      vocab-sized table (no second corpus pass);
    - per-token weights are rounded to INTEGER milli-nats BEFORE the
      per-doc sum → exact BIGINT arithmetic, order-independent and
      engine-portable;
    - the scoring join is broadcast + a map-side-combined per-doc agg.
    """
    # \s+ plus empty filter (ADVICE r4): a single-space split turns
    # whitespace runs into empty-string tokens that train as a real
    # vocabulary entry and inflate n_tok on whitespace-heavy text.
    # The regex stays in the Java∩RE2∩DuckDB subset.
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda w: w != F.lit(""))
    ex = df.select(*id_cols, label.alias("pos"),
                   F.explode(toks).alias("tok"))
    freq = ex.groupBy("tok").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("cb"))
    tot = freq.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
                   F.count("*").alias("v"))
    a = F.lit(float(alpha))
    model = (freq.crossJoin(F.broadcast(tot))
             .select("tok", F.round(
                 (F.log((F.col("ca") + a)
                        / (F.col("na") + a * F.col("v")))
                  - F.log((F.col("cb") + a)
                          / (F.col("nb") + a * F.col("v"))))
                 * millinats_scale).cast("long").alias("w")))
    return (ex.join(F.broadcast(model), "tok")
            .groupBy(*[F.col(c) for c in id_cols])
            .agg(F.sum("w").alias("llr_millinats"),
                 F.count("*").alias("n_tok"))
            .withColumn("pred", F.col("llr_millinats") > 0))


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (hashed n-gram features)
# ---------------------------------------------------------------------------


def _dsir_feature_strings(tokens_col: str) -> Column:
    """Unigram+bigram feature STRINGS of a token array, as one
    ``array<string>`` column — the DSIR bag-of-hashed-ngrams feature
    map (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling", which hashes unigrams and bigrams into a
    fixed bucket space). The HOF lambdas do only cheap cast/concat;
    the md5 bucket ladder is applied AFTER the explode so it runs
    inside whole-stage codegen, not the interpreted HOF evaluator
    (NOTES #2 — same lesson as the MinHash explode rewrite)."""
    toks = F.col(tokens_col)
    uni = F.transform(toks, lambda t: t.cast("string"))
    # bigram text "t1 t2": zip tokens with tokens[2..]; zip_with pads
    # the shorter side with null, and F.concat (NOT concat_ws, which
    # would skip the null and alias the dangling pair onto a unigram
    # string) nulls the last pair out for the filter (single-arg HOF
    # lambdas per NOTES #1; zip_with's two args are its own signature)
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    big = F.filter(
        F.zip_with(toks, shifted,
                   lambda a, b: F.concat(a.cast("string"), F.lit(" "),
                                         b.cast("string"))),
        lambda x: x.isNotNull())
    return F.concat(uni, big)


def _dsir_exploded_buckets(df: DataFrame, tokens_col: str,
                           n_buckets: int,
                           id_cols: tuple[str, ...] = ()) -> DataFrame:
    """Explode the feature strings and bucket them with the portable
    md5 ladder (first 7 hex chars mod ``n_buckets`` — DuckDB
    reproduces it bit-for-bit). Post-explode, so md5/conv stay in
    codegen. Map-only: no shuffle, no Python."""
    ex = df.select(*id_cols,
                   F.explode(_dsir_feature_strings(tokens_col))
                    .alias("fs"))
    return ex.select(*id_cols,
                     (F.conv(F.substring(F.md5("fs"), 1, 7), 16, 10)
                      .cast("long") % n_buckets).alias("bucket"))


def dsir_logratio_model(raw: DataFrame, target: DataFrame,
                        tokens_col: str = "tokens",
                        n_buckets: int = 4096,
                        millinats_scale: int = 1000) -> DataFrame:
    """Fit the DSIR importance log-ratio model: hashed-n-gram unigram
    distributions for the TARGET sample (what we want more of) and the
    RAW corpus (what we are selecting from), Laplace-smoothed, emitted
    as an exactly-``n_buckets``-row table ``(bucket, llr_milli)`` with
    ``llr_milli = round(ln(p_target(k)) - ln(p_raw(k))) * scale`` in
    integer milli-nats.

    Train-once/score-many: persist this table and score any later
    batch (or stream micro-batch) with :func:`dsir_score` — scoring is
    stateless.

    Scale shape (10^12 sequences):
    - feature extraction is map-only (md5 over array elements);
    - each count agg exchanges at most ``n_buckets`` map-side-combined
      partials per partition — the model is K-bounded (default 4096
      rows) NO MATTER the corpus size, and broadcasts;
    - the bucket spine is ``spark.range(K)`` so every bucket has a row
      (no OOV path at score time), joined K-vs-K at trivial cost;
    - totals are 1-row broadcasts.
    """
    spark = raw.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        feats = _dsir_exploded_buckets(df, tokens_col, n_buckets)
        return feats.groupBy("bucket").agg(F.count("*").alias(name))

    # totals == sum of the bucket counts, but computed arithmetically
    # from the array sizes (n unigrams + n-1 bigrams per doc): one
    # NARROW scan instead of a second md5 feature-extraction pass over
    # the corpus (same trick as unigram_model's corpus total — Catalyst
    # does not dedupe the counts subtree across its two uses)
    def total(df: DataFrame, name: str) -> DataFrame:
        n_feat = F.greatest(F.size(F.col(tokens_col)) * 2 - 1, F.lit(0))
        return df.agg(F.sum(n_feat).cast("long").alias(name))

    cq = counts(raw, "cq")
    cp = counts(target, "cp")
    tq = total(raw, "tq")
    tp = total(target, "tp")
    spine = spark.range(0, n_buckets).select(F.col("id").alias("bucket"))
    k = F.lit(n_buckets)
    return (spine.join(F.broadcast(cp), "bucket", "left")
            .join(F.broadcast(cq), "bucket", "left")
            .crossJoin(F.broadcast(tp)).crossJoin(F.broadcast(tq))
            .select("bucket", F.round(
                (F.log((F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1))
                       / (F.col("tp") + k))
                 - F.log((F.coalesce(F.col("cq"), F.lit(0)) + F.lit(1))
                         / (F.col("tq") + k)))
                * millinats_scale).cast("long").alias("llr_milli")))


def dsir_score(df: DataFrame, model: DataFrame,
               tokens_col: str = "tokens",
               n_buckets: int = 4096,
               id_cols: tuple[str, ...] = ("doc_id", "source")
               ) -> DataFrame:
    """Score documents against a fitted DSIR model: per-doc importance
    log-weight ``llr_millinats = sum over hashed features of
    llr_milli`` (exact BIGINT — order-independent, engine-portable)
    plus the feature count ``n_feat``. Explode → broadcast join →
    map-side-combined per-doc agg; one narrow exchange row per doc."""
    ex = _dsir_exploded_buckets(df, tokens_col, n_buckets,
                                id_cols=id_cols)
    return (ex.join(F.broadcast(model), "bucket")
            .groupBy(*[F.col(c) for c in id_cols])
            .agg(F.sum("llr_milli").alias("llr_millinats"),
                 F.count("*").alias("n_feat")))


def dsir_select(raw: DataFrame, target: DataFrame, n: int,
                tokens_col: str = "tokens",
                n_buckets: int = 4096,
                id_col: str = "doc_id",
                id_cols: tuple[str, ...] = ("doc_id", "source"),
                seed: str = "dsir",
                millinats_scale: int = 1000) -> DataFrame:
    """DSIR end-to-end: fit the log-ratio model, score the raw corpus,
    and resample ``n`` documents WITHOUT replacement via the Gumbel
    top-k trick — ``argmax_n(log w_i + g_i)`` with i.i.d. Gumbel noise
    is a sample from the importance distribution. The Gumbel draw is
    DETERMINISTIC (md5 of ``doc_id:seed`` → uniform in (0,1) →
    ``-ln(-ln(u))``, rounded to integer milli-nats) so reruns and the
    DuckDB oracle reproduce the exact selection.

    Output: ``id_cols + (llr_millinats, n_feat, sel_key)`` for the
    ``n`` selected docs; ``sel_key = llr_millinats + gumbel_milli``.

    Scale shape: model K-bounded + broadcast (see
    :func:`dsir_logratio_model`); scoring one narrow row per doc; the
    top-n is ``ORDER BY ... LIMIT n`` = TakeOrderedAndProject — each
    partition keeps its local top ``n`` and the driver merges
    ``n × partitions`` narrow rows, never a global sort. For n large
    enough to strain the driver, swap the limit for a sel_key
    threshold computed from approxQuantile (same plan shape as the
    mixture sampler's budget walk)."""
    # persist the K-row model: it is a REDUCTION (NOTES #20 rule) and
    # without it every action over the result re-runs both md5
    # feature-extraction scans that feed the bucket counts; the caller
    # releases via the caching.carry handle
    from fluent_bit_spark.caching import carry
    model = dsir_logratio_model(raw, target, tokens_col=tokens_col,
                                n_buckets=n_buckets,
                                millinats_scale=millinats_scale)
    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    scored = dsir_score(raw, model, tokens_col=tokens_col,
                        n_buckets=n_buckets, id_cols=id_cols)
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))),
        1, 15), 16, 10).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    gumbel = F.round(-F.log(-F.log(u)) * millinats_scale).cast("long")
    return carry(
        scored
        .withColumn("sel_key", F.col("llr_millinats") + gumbel)
        .orderBy(F.desc("sel_key"), F.asc(id_col))
        .limit(n),
        model)


# ---------------------------------------------------------------------------
# Corpus-audit statistics (Zipf rank/coverage, Heaps vocab growth)
# ---------------------------------------------------------------------------


def zipf_table(df: DataFrame, tokens_col: str = "tokens",
               k: int = 50) -> DataFrame:
    """Token-frequency rank table with cumulative mass coverage — the
    Zipf audit a corpus-health dashboard reads: ``(rank, tok, freq,
    cum_permille)`` for the top ``k`` tokens, rank ordered by
    frequency DESC with token id as the deterministic tiebreak,
    ``cum_permille`` = exact integer permille of total token mass
    covered by ranks 1..rank (BIGINT cross-multiply, no floats).

    Scale shape: the frequency table is VOCAB-bounded (map-side
    combined partials, same as unigram_model); the rank window runs
    over that vocab-bounded table — a single-partition window over
    10^4-10^6 rows, NOT over the corpus (bounded regardless of corpus
    size); the total is a 1-row broadcast."""
    ex = df.select(F.explode(F.col(tokens_col)).alias("tok"))
    freq = ex.groupBy("tok").agg(F.count("*").alias("freq"))
    total = df.agg(F.sum(F.size(F.col(tokens_col)))
                   .cast("long").alias("t"))
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = (freq.withColumn("rank", F.row_number().over(w))
              .withColumn("cum_freq",
                          F.sum("freq").over(
                              w.rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)))
              .filter(F.col("rank") <= k))
    # integer DIV, not float-divide-then-cast: Spark's double→long cast
    # truncates while DuckDB's rounds — DIV is exact in both engines
    return (ranked.crossJoin(F.broadcast(total))
            .select("rank", "tok", "freq",
                    F.expr("cum_freq * 1000 DIV t")
                    .alias("cum_permille")))


def vocab_growth(df: DataFrame, tokens_col: str = "tokens",
                 id_col: str = "doc_id",
                 permilles: tuple[int, ...] = (125, 250, 500, 1000)
                 ) -> DataFrame:
    """Heaps-law audit points: distinct-token (vocab) and total-token
    counts over deterministic md5 permille fractions of the corpus —
    ``(permille, docs, total_toks, distinct_toks)``, one row per
    requested fraction. Sub-linear vocab growth vs token growth is the
    expected natural-text shape; a vocab that grows LINEARLY with the
    corpus flags an id-leak or noise flood.

    The fraction is a content-hash subset (md5(doc_id) mod 1000 — the
    deterministic_sample rule), which is the right estimator for a
    growth curve (order-free, engine-portable, monotone: each fraction
    is a superset of the smaller ones).

    Scale shape — NO multi-distinct anywhere (a conditional
    count_distinct per threshold would plan an Expand that multiplies
    the exploded corpus by the aggregate count):
    - docs and token totals come from the UN-exploded frame
      (conditional sums over one narrow row per doc — docs counted
      when they contribute ≥1 token, matching the exploded-form
      semantics);
    - vocab sizes reduce to ``min(bucket) per token`` — a token is in
      the p-fraction iff its smallest doc-bucket < p — so ONE
      map-side-combined agg yields a VOCAB-bounded (tok, first_b)
      table and every growth point is a conditional count over it.
    One corpus pass for the doc stats, one explode pass for the vocab
    table; no per-point rescans, no Expand."""
    bucket = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                                 1, 7), 16, 10).cast("long") % 1000)
    per_doc = (df.filter(F.size(F.col(tokens_col)) > 0)
               .select(bucket.alias("b"),
                       F.size(F.col(tokens_col)).alias("n")))
    first_b = (df.select(bucket.alias("b"),
                         F.explode(F.col(tokens_col)).alias("tok"))
               .groupBy("tok").agg(F.min("b").alias("first_b")))
    aggs = []
    for p in permilles:
        cond = F.col("b") < p
        aggs += [
            F.count(F.when(cond, F.lit(1))).alias(f"docs_{p}"),
            F.sum(F.when(cond, F.col("n")).otherwise(F.lit(0)))
             .cast("long").alias(f"toks_{p}"),
        ]
    vocab_aggs = [
        F.count(F.when(F.col("first_b") < p, F.lit(1)))
         .alias(f"vocab_{p}")
        for p in permilles]
    row = per_doc.agg(*aggs).crossJoin(
        F.broadcast(first_b.agg(*vocab_aggs)))
    pts = F.array(*[
        F.struct(F.lit(p).cast("long").alias("permille"),
                 F.col(f"docs_{p}").alias("docs"),
                 F.col(f"toks_{p}").alias("total_toks"),
                 F.col(f"vocab_{p}").alias("distinct_toks"))
        for p in permilles])
    return (row.select(F.explode(pts).alias("pt"))
            .select("pt.permille", "pt.docs", "pt.total_toks",
                    "pt.distinct_toks"))


# ---------------------------------------------------------------------------
# sliding-window chunking (per-document overlapping windows with stride)
# ---------------------------------------------------------------------------


def chunk_documents(df: DataFrame, window: int, stride: int,
                    id_col: str = "doc_id",
                    tokens_col: str = "tokens",
                    len_col: str = "n_tok") -> DataFrame:
    """Per-document sliding-window chunking with ``stride`` — the
    RAG-indexing / long-document-eval counterpart of ``pack_sequences``
    (which concatenates ACROSS documents; this never crosses a document
    boundary and windows may OVERLAP).

    Window ``i`` of a document covers tokens
    ``[i*stride, min(i*stride + window, n_tok))``; windows are emitted
    for ``i = 0 .. ceil((n_tok - window) / stride)`` (one window when
    ``n_tok <= window``), so every token is covered, consecutive
    windows overlap by ``window - stride`` tokens, and no window starts
    at or past the end. The tail window may be short (down to
    ``n_tok - i*stride`` tokens) — it is never re-anchored backwards,
    so a token's set of covering windows is a pure function of its
    position (HF ``return_overflowing_tokens`` semantics, not the
    clamp-to-end variant).

    Output: one row per (doc, chunk_idx) with the ``tokens`` slice,
    ``chunk_start`` (0-based token offset), ``n_tok_chunk`` and
    ``is_tail``.

    Scale shape: MAP-ONLY — a per-row ``sequence`` explode plus
    ``slice``; no shuffle, no window function, no state. Output volume
    is input volume × the overlap factor ``window/stride`` (callers
    budget for that, the operator never amplifies beyond it: each
    token lands in ≤ ceil(window/stride) chunks). Filters on doc
    columns still push down through the generate.
    """
    if not (0 < stride <= window):
        raise ValueError(
            f"chunk_documents: need 0 < stride <= window, got "
            f"stride={stride} window={window} (stride > window would "
            f"leave token gaps between consecutive chunks)")
    d = df.filter(F.col(len_col) > 0)
    # ceil((n_tok - window)/stride) in pure integer arithmetic: DIV
    # truncates toward zero, operands kept non-negative via greatest().
    last_i = F.expr(
        f"greatest({len_col} - {window}, 0L) DIV {stride} "
        f"+ CASE WHEN {len_col} > {window} "
        f"AND (({len_col} - {window}) % {stride}) != 0 "
        f"THEN 1 ELSE 0 END")
    e = d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), last_i)))
    start = F.col("chunk_idx") * stride
    length = F.least(F.lit(window), F.col(len_col) - start)
    return (e.withColumn("chunk_start", start.cast("long"))
            .withColumn(tokens_col,
                        F.slice(tokens_col, (start + 1).cast("int"),
                                length.cast("int")))
            .withColumn("n_tok_chunk", F.size(tokens_col).cast("long"))
            .withColumn("is_tail",
                        F.col("chunk_start") + F.lit(window)
                        >= F.col(len_col))
            .withColumn("chunk_idx", F.col("chunk_idx").cast("long"))
            .drop(len_col))


# ---------------------------------------------------------------------------
# winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        tokens_col: str = "tokens",
                        k: int = 4, w: int = 4,
                        keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003): hash every ``k``-token gram, slide a window of ``w``
    consecutive gram hashes, and in each window select the minimum hash
    (rightmost position on ties). The distinct selected ``(pos, fp)``
    pairs are the document's fingerprints.

    Why next to MinHash: winnowing is the EXACT-guarantee fingerprinter
    — any shared token run of length >= ``w + k - 1`` is certain to
    produce a shared fingerprint in both documents (the SIGMOD'03
    correctness theorem), while MinHash detection is probabilistic.
    Density is bounded too: at least one selection per window, so
    consecutive selected positions are never more than ``w`` apart and
    the expected fingerprint count is ``2/(w+1)`` of the grams — the
    storage/recall dial.

    Output: one row per fingerprint, ``(id_col, *keep_cols, pos, fp)``
    with ``pos`` the 0-based gram position and ``fp`` a 60-bit integer
    (md5 prefix of the space-joined gram — engine-portable, the same
    hash family as the portable MinHash).

    Scale shape: MAP-ONLY. Gram hashing, the window fold, and the
    distinct-selection dedup all run inside one projection on the
    token array — nothing shuffles; the explode is a map-side 1:N.
    Per-doc cost is O(grams * w) in the interpreted HOF evaluator,
    linear in corpus size and embarrassingly parallel at any scale.
    (For single documents of millions of tokens, chunk first with
    ``chunk_documents`` — overlap >= w+k-1 preserves the guarantee
    across chunk seams.)
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k and w must be >= 1, "
                         f"got k={k} w={w}")
    longmax = 9223372036854775807
    toks = F.col(tokens_col).cast("array<string>")
    m = F.size(tokens_col) - (k - 1)          # gram count
    gram_h = lambda i: (                       # noqa: E731
        F.conv(F.substring(
            F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))), 1, 15),
            16, 10).cast("long"))
    grams = F.when(m >= 1, F.transform(
        F.sequence(F.lit(0), m - 1), gram_h)
    ).otherwise(F.array().cast("array<bigint>"))
    d = df.withColumn("__gh", grams)
    gh_at = lambda i: F.element_at(F.col("__gh"), i + 1)  # noqa: E731
    fold = lambda j: F.aggregate(                          # noqa: E731
        F.sequence(j, j + (w - 1)),
        F.struct(F.lit(-1).cast("long").alias("pos"),
                 F.lit(longmax).alias("fp")),
        # <= keeps the RIGHTMOST minimal hash (ties are real: repeated
        # grams inside one window), per the robust-winnowing rule
        lambda acc, i: F.when(
            gh_at(i) <= acc["fp"],
            F.struct(i.cast("long").alias("pos"),
                     gh_at(i).alias("fp"))).otherwise(acc))
    sel = F.when(
        F.size("__gh") >= w,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size("__gh") - w), fold))
    ).otherwise(F.array().cast("array<struct<pos:bigint,fp:bigint>>"))
    return (d.select(id_col, *keep_cols, F.explode(sel).alias("__s"))
            .select(id_col, *keep_cols,
                    F.col("__s.pos").alias("pos"),
                    F.col("__s.fp").alias("fp")))


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         tokens_col: str = "tokens",
                         k: int = 4, w: int = 4,
                         min_shared: int = 2,
                         max_fp_freq: int = 20) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints — the exact-guarantee sibling of the MinHash LSH band
    join: two documents sharing a token run of >= ``w + k - 1`` tokens
    ALWAYS collide on at least one fingerprint, so a pair threshold of
    ``min_shared`` shared fingerprints tunes precision without losing
    the detection floor at ``min_shared=1``.

    ``max_fp_freq`` drops fingerprints occurring in more than that many
    documents before pairing (boilerplate guard — the same hot-key
    discipline as the LSH band join: pair volume per fingerprint is
    bounded by ``max_fp_freq**2``, so corpus-wide boilerplate can never
    produce a quadratic pair blow-up or a skewed reduce task).

    Scale shape: the map-only fingerprint derivation, one distinct on
    ``(fp, id)``, one frequency agg on ``fp`` (map-side partials, AQE
    broadcasts the surviving frequency table), a self-join keyed on
    ``fp`` bounded by the frequency cap, and a pair-count agg. Shuffle
    volume is fingerprints (~``2/(w+1)`` of grams), never token
    content — the exchange carries 16-byte rows at any document size.
    """
    fp = (winnow_fingerprints(df, id_col, tokens_col, k, w)
          .select(id_col, "fp").distinct())
    freq = (fp.groupBy("fp").agg(F.count("*").alias("__c"))
            .filter(F.col("__c") <= max_fp_freq).select("fp"))
    fp = fp.join(freq, "fp")
    a = fp.select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared_fp"))
            .filter(F.col("shared_fp") >= min_shared))


def allocate_token_budget(totals: DataFrame, budget_tokens: int,
                          part_col: str = "source",
                          tokens_col: str = "unique_tokens",
                          weight_col: str = "weight",
                          max_epochs_milli: int = 4000) -> DataFrame:
    """Data-constrained mixture allocation (the Muennighoff et al. 2023
    "Scaling Data-Constrained Language Models" planning step): split a
    total training-token budget across sources proportionally to
    mixture ``weight_col``, but never draw more than
    ``max_epochs_milli/1000`` epochs of a source's unique tokens;
    budget displaced by capped sources redistributes proportionally
    among the uncapped ones (exact water-filling).

    Input is the per-source TOTALS table ``(part_col, tokens_col,
    weight_col)`` — vocabulary-of-sources-sized (10s..1000s of rows at
    any corpus size), typically the output of an exact-dedup count.
    Output adds ``cap_tokens``, ``capped``, ``alloc_tokens``, and
    ``epochs_milli`` per source.

    Algorithm, exact and engine-portable (pure BIGINT, NOTES #25):
    sort sources by cap/weight ascending (two-level integer key:
    ``cap DIV w`` then the fraction at 1e-6 resolution — identical
    ordering in any engine); a source is capped iff
    ``cap_i * (W - cumw_{i-1}) < w_i * (B - cumcap_{i-1})`` over the
    sorted prefix — the textbook monotone water-filling test, folded
    to "condition holds for every row up to i" so the capped set is
    exactly a prefix. Uncapped sources get
    ``w_i * (B - sum(capped caps)) DIV (W - sum(capped weights))``;
    the sub-token DIV remainder (< n_uncapped tokens) is left
    unallocated, derivable as budget - sum(alloc_tokens) — never
    silently re-spread.

    Scale shape: the fact-table work (the totals) happens BEFORE this
    operator; here everything is a couple of windows + one broadcast
    1-row join over the source-bounded table — the same vocab-bounded
    single-partition-window argument as the Zipf audit. Weights must
    be positive and <= 1e6 so every product stays under 2^63 for
    budgets up to ~10^12 tokens * 1e6.
    """
    if budget_tokens < 0:
        raise ValueError("allocate_token_budget: negative budget")
    if max_epochs_milli < 1:
        raise ValueError("allocate_token_budget: max_epochs_milli >= 1")
    B = int(budget_tokens)
    cap = F.expr(f"CAST({tokens_col} AS BIGINT) * {max_epochs_milli} "
                 f"DIV 1000")
    gw = totals.agg(F.sum(F.col(weight_col).cast("long")).alias("__wsum"))
    d = (totals
         .withColumn("__w", F.col(weight_col).cast("long"))
         .withColumn("cap_tokens", cap)
         .crossJoin(F.broadcast(gw)))
    ordk = [F.expr("cap_tokens DIV __w"),
            F.expr("((cap_tokens % __w) * 1000000) DIV __w"),
            F.col(part_col)]
    win_prev = (Window.orderBy(*ordk)
                .rowsBetween(Window.unboundedPreceding, -1))
    win_upto = (Window.orderBy(*ordk)
                .rowsBetween(Window.unboundedPreceding, 0))
    d = (d.withColumn("__cumw", F.coalesce(
            F.sum("__w").over(win_prev), F.lit(0)))
         .withColumn("__cumcap", F.coalesce(
            F.sum("cap_tokens").over(win_prev), F.lit(0)))
         .withColumn("__cond",
                     (F.col("cap_tokens")
                      * (F.col("__wsum") - F.col("__cumw"))
                      < F.col("__w")
                      * (F.lit(B) - F.col("__cumcap")))
                     .cast("int"))
         .withColumn("capped",
                     (F.min("__cond").over(win_upto) == 1)))
    # capped-set totals as unbounded-window sums over the same (source-
    # bounded, single-partition) frame — no self-join, no ambiguity
    win_all = (Window.orderBy(*ordk)
               .rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing))
    capped_cap = F.when(F.col("capped"), F.col("cap_tokens"))
    capped_w = F.when(F.col("capped"), F.col("__w"))
    out = (d.withColumn("__ccap", F.coalesce(
               F.sum(capped_cap).over(win_all), F.lit(0)))
           .withColumn("__cw", F.coalesce(
               F.sum(capped_w).over(win_all), F.lit(0)))
           .withColumn(
               "alloc_tokens",
               F.when(F.col("capped"), F.col("cap_tokens"))
               .otherwise(F.when(
                   F.col("__wsum") > F.col("__cw"),
                   F.expr(f"__w * (CAST({B} AS BIGINT) - __ccap) "
                          f"DIV (__wsum - __cw)"))
                   .otherwise(F.lit(0))))
           .withColumn("alloc_tokens",
                       F.greatest(F.lit(0).cast("long"),
                                  F.col("alloc_tokens")))
           .withColumn("epochs_milli",
                       F.expr(f"alloc_tokens * 1000 DIV {tokens_col}")))
    return out.select(part_col, F.col(tokens_col).cast("long")
                      .alias(tokens_col),
                      F.col(weight_col).cast("long").alias(weight_col),
                      "cap_tokens", "capped", "alloc_tokens",
                      "epochs_milli")


def rrf_fuse(ranked: list[DataFrame], query_col: str = "query_id",
             id_col: str = "doc_id", rank_col: str = "rank",
             k: int = 60, top_n: int = 10) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    fuse N ranked lists into one by ``score = Σ_systems 1/(k + rank)``
    — the standard hybrid-retrieval combiner (BM25 ∪ dense ∪ expanded
    queries) for RAG indexing and decontamination-by-retrieval. A
    document absent from a system's list simply contributes nothing.

    Scores are held as ``rrf_micro = Σ 1000000 DIV (k + rank)`` —
    pure BIGINT (NOTES #25), so fused ranks are exact and engine-
    portable; ties break on the doc id. Output: one row per fused
    (query, doc) with ``rrf_micro``, ``n_systems`` (how many lists
    carried the doc — the agreement signal), and fused ``rank``
    1..top_n.

    Scale shape: the inputs are already top-k lists — ``n_queries × k
    × n_systems`` rows no matter how large the corpus the retrievers
    scanned — so fusion is one union + one hash agg keyed (query, doc)
    (map-side partials) + a per-query window over ≤ n_systems·k
    candidates. The heavy lifting stays in the retrievers; fusion
    never touches corpus-scale data.
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    if k < 1 or top_n < 1:
        raise ValueError(f"rrf_fuse: k and top_n must be >= 1, "
                         f"got k={k} top_n={top_n}")
    from functools import reduce as _reduce
    parts = [df.select(F.col(query_col), F.col(id_col),
                       F.col(rank_col).cast("long").alias("__r"))
             for df in ranked]
    u = _reduce(lambda a, b: a.unionByName(b), parts)
    scored = (u.groupBy(query_col, id_col)
              .agg(F.sum(F.expr(f"1000000 DIV ({k} + __r)"))
                   .alias("rrf_micro"),
                   F.count("*").alias("n_systems")))
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_micro"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w)
                              .cast("long"))
            .filter(F.col("rank") <= top_n))


def winnow_corpus_fp(df: DataFrame, id_col: str = "doc_id",
                     tokens_col: str = "tokens",
                     k: int = 4, w: int = 4) -> DataFrame:
    """The maintained winnowing artifact: distinct ``(id, fp)`` per
    document. Because fingerprint selection is PER-DOCUMENT and
    map-only, the artifact of ``corpus ∪ batch`` is EXACTLY
    ``artifact(corpus) ∪ artifact(batch)`` — appends are exact by
    construction (no signature re-estimation, no band re-derivation;
    pytest pins this), which is the winnowing advantage over MinHash
    artifacts for incremental ingest. Maintain it bucketed by ``fp``
    so the per-batch probe join is exchange-free on the corpus side."""
    return (winnow_fingerprints(df, id_col, tokens_col, k, w)
            .select(id_col, "fp").distinct())


def winnow_vs_corpus(new: DataFrame, corpus_fp: DataFrame,
                     id_col: str = "doc_id",
                     tokens_col: str = "tokens",
                     k: int = 4, w: int = 4, min_shared: int = 2,
                     max_fp_freq: int = 20,
                     corpus_freq: DataFrame | None = None) -> DataFrame:
    """Survivors of ``new`` after winnowing dedup AGAINST a maintained
    corpus fingerprint table (incremental ingest): a new doc sharing
    >= ``min_shared`` non-boilerplate fingerprints with ANY corpus doc
    is dropped; at ``min_shared=1`` the drop has the SIGMOD'03 floor —
    any shared token run of >= w+k-1 tokens with the corpus is certain
    to be caught.

    ``corpus_freq``: a maintained ``(fp, n_docs)`` table for the
    boilerplate guard; pass it so the guard costs a batch-keyed join
    instead of a corpus-wide aggregate. When None it is computed from
    ``corpus_fp`` (fine below ~10^9 fingerprints; at 10^12 maintain
    the freq table alongside the fp table and fold batch counts in on
    append).

    Scale shape: the batch's fingerprints are map-only; the guard
    join and the probe join are keyed on ``fp`` (corpus side
    exchange-free when the artifact is bucketed); match volume per
    fingerprint is bounded by ``max_fp_freq``; one (ndoc, cdoc) pair
    agg; one anti-join back onto ``new``. Per-batch cost ∝ batch +
    matches — the corpus is never re-fingerprinted or re-read beyond
    the probed keys.
    """
    bfp = winnow_corpus_fp(new, id_col, tokens_col, k, w)
    if corpus_freq is None:
        corpus_freq = corpus_fp.groupBy("fp").agg(
            F.count("*").alias("n_docs"))
    ok = (corpus_freq.filter(F.col("n_docs") <= max_fp_freq)
          .select("fp"))
    cf = corpus_fp.select(F.col(id_col).alias("__cdoc"), "fp")
    dropped = (bfp.join(ok, "fp")          # guard BEFORE the fan-out
               .join(cf, "fp")
               .groupBy(id_col, "__cdoc")
               .agg(F.count("*").alias("__shared"))
               .filter(F.col("__shared") >= min_shared)
               .select(id_col).distinct())
    return new.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# fill-in-the-middle (FIM) transform (Bavarian et al., arXiv:2207.14255)
# ---------------------------------------------------------------------------


def _permille_hash(col: Column, salt: str) -> Column:
    """Deterministic uniform draw in [0, 1000) from an md5 prefix —
    portable (DuckDB reproduces it bit-for-bit), unlike rand(seed)."""
    return (F.conv(F.substring(F.md5(F.concat_ws(":", col, F.lit(salt))),
                               1, 7), 16, 10).cast("long") % 1000)


def fim_transform(df: DataFrame, rate_permille: int = 900,
                  spm_permille: int = 500, seed: int = 0,
                  sentinel_pre: int = 50001, sentinel_mid: int = 50002,
                  sentinel_suf: int = 50003,
                  id_col: str = "doc_id", tokens_col: str = "tokens",
                  len_col: str = "n_tok") -> DataFrame:
    """Fill-in-the-middle training transform over token sequences
    (Bavarian et al. 2022, "Efficient Training of Language Models to
    Fill in the Middle"): a deterministic fraction of documents is
    split into (prefix, middle, suffix) at two uniform cut points and
    re-serialized with sentinel tokens so the model learns to infill:

    - PSM: ``[PRE] prefix [SUF] suffix [MID] middle``
    - SPM: ``[PRE] [SUF] suffix [MID] prefix middle`` (the paper's
      joint SPM variant — sentinels up front, prefix+middle fused)

    Every random choice is a portable md5 draw keyed by
    ``(doc_id, seed, salt)`` so reruns — and the DuckDB oracle —
    reproduce the exact byte stream: apply? (``rate_permille``/1000),
    PSM vs SPM (``spm_permille``/1000), and the two cut points
    (uniform over [0, n], unordered pair sorted). Untransformed and
    empty documents pass through with ``fim_mode='none'``.

    Invariants (pytest-pinned): the output token multiset is the input
    multiset plus exactly the 3 sentinels on transformed rows;
    ``n_tok_out = n_tok + 3`` iff transformed; removing sentinels and
    un-rotating reconstructs the original sequence exactly.

    Scale shape: MAP-ONLY — md5 draws, three ``slice``s and a
    ``concat`` per row inside whole-stage codegen; no shuffle, no
    Python boundary, no state. At 10^12 sequences this is a pure scan
    whose cost is the rewrite bandwidth; filters on doc columns push
    down through it.
    """
    if not 0 <= rate_permille <= 1000:
        raise ValueError(f"rate_permille out of [0,1000]: {rate_permille}")
    if not 0 <= spm_permille <= 1000:
        raise ValueError(f"spm_permille out of [0,1000]: {spm_permille}")
    idc = F.col(id_col).cast("string")
    n = F.col(len_col).cast("int")
    sid = F.concat_ws(":", idc, F.lit(str(seed)))
    applied = ((_permille_hash(sid, "fim?") < rate_permille) & (n > 0))
    spm = _permille_hash(sid, "fim/spm") < spm_permille
    # Two independent uniform draws over [0, n]; the unordered pair
    # sorted gives cut points lo <= hi (the paper's "two random
    # positions"). 7 hex chars = 28 bits >> n, so the mod bias is
    # negligible and — more importantly — identical in both engines.
    k1 = (F.conv(F.substring(F.md5(F.concat_ws(":", sid, F.lit("fim/a"))),
                             1, 7), 16, 10).cast("long") % (n + 1))
    k2 = (F.conv(F.substring(F.md5(F.concat_ws(":", sid, F.lit("fim/b"))),
                             1, 7), 16, 10).cast("long") % (n + 1))
    lo = F.least(k1, k2).cast("int")
    hi = F.greatest(k1, k2).cast("int")
    toks = F.col(tokens_col)
    prefix = F.slice(toks, 1, lo)
    middle = F.slice(toks, lo + 1, hi - lo)
    suffix = F.slice(toks, hi + 1, n - hi)
    s_pre = F.array(F.lit(sentinel_pre))
    s_mid = F.array(F.lit(sentinel_mid))
    s_suf = F.array(F.lit(sentinel_suf))
    psm_out = F.concat(s_pre, prefix, s_suf, suffix, s_mid, middle)
    spm_out = F.concat(s_pre, s_suf, suffix, s_mid, prefix, middle)
    out_toks = F.when(~applied, toks).otherwise(
        F.when(spm, spm_out).otherwise(psm_out))
    mode = (F.when(~applied, "none")
             .when(spm, "spm").otherwise("psm"))
    return (df.withColumn("fim_mode", mode)
              .withColumn("split_lo",
                          F.when(applied, lo.cast("long")))
              .withColumn("split_hi",
                          F.when(applied, hi.cast("long")))
              .withColumn(tokens_col, out_toks)
              .withColumn("n_tok_out", F.size(tokens_col).cast("long")))


# ---------------------------------------------------------------------------
# length-bucketed dynamic batching (fairseq/HF max-tokens batching)
# ---------------------------------------------------------------------------


def bucket_batches(df: DataFrame, max_tokens: int,
                   bucket_rounding: int = 64,
                   id_col: str = "doc_id", len_col: str = "n_tok",
                   source_col: str = "source",
                   group_size: int | None = None) -> DataFrame:
    """Length-bucketed max-token batch construction — the dataloader
    step between a curated corpus and padded training batches
    (fairseq ``--max-tokens`` / HF ``group_by_length`` posture):
    sequences are padded to their length bucket (smallest multiple of
    ``bucket_rounding`` >= ``n_tok``), and each batch holds
    ``max_tokens DIV bucket_len`` same-bucket sequences, so batch cost
    is bounded by ``max_tokens`` and padding waste is bounded by the
    bucket rounding instead of the corpus-max length.

    Because every member of a bucket has identical PADDED cost, batch
    assignment needs no greedy walk: with ``off`` = the number of
    earlier docs in the (source, bucket) — deterministic portable-hash
    order — ``batch_idx = off DIV cap``. Docs whose bucket exceeds
    ``max_tokens`` are routed aside (``oversize=true``, null batch)
    for the caller's chunking path, mirroring ``pack_documents``'
    overlong routing.

    Output: one row per doc with ``bucket_len``, ``batch_idx``,
    ``pos_in_batch``, ``pad_tok`` (this doc's padding share,
    ``bucket_len - n_tok``) and ``oversize``.

    Scale shape: the only wide ops are :func:`exclusive_prefix_sum`'s
    two bounded phases (tiny per-group totals + <=group-width local
    windows) — no per-(source,bucket) single-task window, which at
    10^12 rows would serialize the biggest bucket into one reducer.
    Count-based (val=1) prefix over a 60-bit hash order key; ties
    broken on ``id_col``.
    """
    if max_tokens < bucket_rounding:
        raise ValueError(
            f"bucket_batches: max_tokens={max_tokens} < "
            f"bucket_rounding={bucket_rounding} would make every "
            f"bucket oversize")
    n = F.col(len_col).cast("long")
    bucket = (F.expr(f"({len_col} + {bucket_rounding} - 1) "
                     f"DIV {bucket_rounding}").cast("long")
              * bucket_rounding)
    d = (df.filter(n > 0)
           .withColumn("bucket_len", bucket)
           .withColumn("oversize", F.col("bucket_len") > max_tokens)
           .withColumn("pad_tok", (F.col("bucket_len") - n)
                       .cast("long"))
           .withColumn("__pb", F.concat_ws(
               "\x00", F.col(source_col).cast("string"),
               F.col("bucket_len").cast("string")))
           .withColumn("__ok", _portable_order_key(F.col(id_col))))
    fits = d.filter(~F.col("oversize"))
    if group_size is None:
        # 60-bit hash domain; aim ~2^20 rows/group at any scale via a
        # conservative static width (callers at known n_rows pass an
        # exact hash_order_bucket_width-style value).
        group_size = 1 << 40
    assigned = (
        exclusive_prefix_sum(fits, "__pb", "__ok", F.lit(1),
                             out_col="__off", group_size=group_size,
                             tiebreak_col=id_col)
        .withColumn("__cap", F.expr(f"{max_tokens} DIV bucket_len"))
        .withColumn("batch_idx", F.expr("__off DIV __cap").cast("long"))
        .withColumn("pos_in_batch", F.expr("__off % __cap").cast("long"))
        .drop("__off", "__cap"))
    over = (d.filter(F.col("oversize"))
             .withColumn("batch_idx", F.lit(None).cast("long"))
             .withColumn("pos_in_batch", F.lit(None).cast("long")))
    return assigned.unionByName(over).drop("__pb", "__ok")


def temperature_mixture(df: DataFrame, budget_tokens: Column,
                        alpha_permille: int = 500,
                        part_col: str = "source",
                        len_col: str = "n_tok",
                        id_col: str = "doc_id") -> DataFrame:
    """Temperature-weighted mixture sampling (the mT5 / XLM-R
    alpha-sampling rule): source ``s`` is sampled in proportion to
    ``n_s ** alpha`` — ``alpha=1`` keeps natural proportions,
    ``alpha→0`` flattens toward uniform, the published multilingual
    settings are 0.3–0.7. ``alpha = alpha_permille / 1000``.

    The only float in the chain is one ``pow`` on the K-row per-source
    totals, normalized by the largest source and snapped to a 2^20
    integer weight behind a single ``round`` (the NOTES.md transcendental
    rule — everything downstream is BIGINT: per-source token targets
    ``budget * w_s DIV Σw``, keep rates in ppm, and the same md5 content-
    hash bucket as :func:`mixture_sample`, so the sample is reproducible
    across runs, partitionings, and engines).

    Scale shape: identical to ``mixture_sample`` — two tiny aggregates
    (per-source totals + the Σw/corpus scalar) broadcast back, then a
    map-only filter; re-weighting never reshuffles the corpus.
    """
    if not 0 < alpha_permille <= 1000:
        raise ValueError(
            f"alpha_permille out of (0,1000]: {alpha_permille}")
    alpha = alpha_permille / 1000.0
    totals = df.groupBy(part_col).agg(
        F.sum(len_col).cast("long").alias("__tot"))
    nmax = totals.agg(F.max("__tot").alias("__nmax"))
    weights = (totals.crossJoin(F.broadcast(nmax))
               .withColumn("__w", F.round(
                   F.pow(F.col("__tot") / F.col("__nmax"),
                         F.lit(alpha)) * (1 << 20)).cast("long")))
    # one K-row aggregate carries both Σw and the corpus total, so a
    # caller's budget Column may reference ``corpus_tokens`` (same
    # contract as mixture_sample)
    wsum = weights.agg(F.sum("__w").alias("__wsum"),
                       F.sum("__tot").alias("corpus_tokens"))
    rates = (weights.crossJoin(F.broadcast(wsum))
             .withColumn("__budget", budget_tokens.cast("long"))
             .withColumn("target_tok",
                         F.expr("__budget * __w DIV __wsum")
                          .cast("long"))
             .withColumn("ppm",
                         F.least(F.lit(1000000).cast("long"),
                                 F.expr("target_tok * 1000000 "
                                        "DIV __tot")))
             .select(part_col, "target_tok", "ppm"))
    bucket = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                                 1, 7), 16, 10).cast("long") % 1000000)
    return (df.join(F.broadcast(rates), part_col)
            .filter(bucket < F.col("ppm")))


def pack_masks(packed: DataFrame, tokens_col: str = "tokens",
               starts_col: str = "doc_starts") -> DataFrame:
    """Attention/position metadata for packed context windows — the
    step between :func:`pack_sequences` output and a packed-attention
    dataloader (HF ``position_ids`` + FlashAttention varlen /
    block-diagonal masking posture):

    - ``segment_ids``: one int per token; tokens of the same document
      share an id, numbered 0.. within the window (a leading
      continuation of a boundary-split document is segment 0);
    - ``position_ids``: 0-based position within the segment (every
      segment restarts at 0 — the packed-training convention; a
      continuation segment's true in-document offset is recoverable
      from the previous chunk but deliberately NOT baked in, matching
      the reset-at-boundary dataloaders);
    - ``n_segments``: distinct documents (or partial documents)
      touching the window.

    Both arrays are built from the run BOUNDS (``[0] ∪ starts>0 ∪
    [len]``) with one array_repeat / sequence per run — O(window)
    total work per chunk, independent of how many documents pack into
    it (a per-position count-of-starts form would be O(window·docs)).

    Scale shape: MAP-ONLY over the packed frame — no shuffle, no
    Python; composes with pack_sequences' one token move.
    """
    L = F.size(tokens_col)
    bounds = F.concat(
        F.array(F.lit(0)),
        F.filter(F.col(starts_col), lambda s: s > 0),
        F.array(L.cast("int")))
    runs = F.sequence(F.lit(0), F.size(bounds) - 2)
    seg_ids = F.flatten(F.transform(
        runs, lambda j: F.array_repeat(
            j.cast("int"),
            (F.element_at(bounds, (j + 2).cast("int"))
             - F.element_at(bounds, (j + 1).cast("int"))).cast("int"))))
    pos_ids = F.flatten(F.transform(
        runs, lambda j: F.sequence(
            F.lit(0),
            (F.element_at(bounds, (j + 2).cast("int"))
             - F.element_at(bounds, (j + 1).cast("int")) - 1)
            .cast("int"))))
    return (packed
            .withColumn("segment_ids", seg_ids)
            .withColumn("position_ids", pos_ids)
            .withColumn("n_segments", (F.size(bounds) - 1).cast("long")))


def kn_surprisal(train: DataFrame, score: DataFrame | None = None,
                 discount_milli: int = 750,
                 tokens_col: str = "tokens",
                 id_cols: tuple[str, ...] = ("doc_id", "source"),
                 broadcast_model: bool = False) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal (Kneser & Ney 1995 /
    Chen & Goodman 1999) — the smoothing the CCNet-grade KenLM filter
    actually uses, where :func:`ngram_surprisal`'s raw conditional
    model is exact only when train == score:

        P(w|u) = max(c(u,w) - D, 0)/c(u)
                 + D·N1+(u·)/c(u) · N1+(·w)/N1+(··)

    with absolute discount ``D = discount_milli/1000``. Trained on
    ``train``, scores ``score`` (defaults to ``train``). Pairs whose
    context u OR continuation w is outside the model are UNSCORED and
    counted (``n_unscored`` — the OOV audit, same contract as
    :func:`score_tokens`); unseen (u,w) pairs with known u and w score
    through the continuation term — the point of the smoothing.

    Numerics: counts stay exact BIGINT through the aggregations; the
    per-pair probability is ONE fixed-shape double expression
    (products in double — the integer num/den form overflows BIGINT at
    web scale) snapped behind round(·1000) to integer milli-nats
    before the per-document sum. Literal-type rule of NOTES.md #30
    applies: the expression is D-suffixed here and CAST-to-DOUBLE in
    the oracle.

    Scale shape: pair-count model is corpus-sized → scoring joins it
    on (t1,t2) with AQE skew-split (1-row build side), exactly the
    ngram_surprisal posture; context/continuation tables and the
    distinct-bigram scalar are VOCAB-bounded re-aggregations of the
    pair counts (never a second corpus pass) and broadcast.
    """
    if not 0 < discount_milli < 1000:
        raise ValueError(
            f"kn_surprisal: discount_milli out of (0,1000): "
            f"{discount_milli}")
    score = score if score is not None else train
    tp = _gram_positions(train, 2, tokens_col)
    gc = (tp.groupBy("t1", "t2").agg(F.count("*").alias("c"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    ctx = gc.groupBy("t1").agg(F.sum("c").alias("cc"),
                               F.count("*").alias("n1f"))
    cont = gc.groupBy("t2").agg(F.count("*").alias("n1b"))
    nbb = gc.agg(F.count("*").alias("nbb"))
    pairs = _gram_positions(score, 2, tokens_col, *id_cols)
    model = gc
    if broadcast_model:
        model = F.broadcast(model)
    dd = discount_milli / 1000.0
    scored = (pairs
              .join(model, ["t1", "t2"], "left")
              .join(F.broadcast(ctx), "t1", "left")
              .join(F.broadcast(cont), "t2", "left")
              .crossJoin(F.broadcast(nbb)))
    nll = F.expr(
        f"CAST(round(-ln((greatest(CAST(coalesce(c, 0) AS DOUBLE) "
        f"- {dd}D, 0.0D) + {dd}D * CAST(n1f AS DOUBLE) "
        f"* (CAST(n1b AS DOUBLE) / CAST(nbb AS DOUBLE))) "
        f"/ CAST(cc AS DOUBLE)) * 1000) AS BIGINT)")
    in_model = F.col("cc").isNotNull() & F.col("n1b").isNotNull()
    from fluent_bit_spark.caching import carry
    return carry(
        scored
        .withColumn("__nll", F.when(in_model, nll))
        .groupBy(*[F.col(x) for x in id_cols])
        .agg(F.sum("__nll").alias("nll_millinats"),
             F.sum(in_model.cast("long")).alias("n_scored"),
             F.sum((~in_model).cast("long")).alias("n_unscored")),
        gc)


def span_corrupt(df: DataFrame, grid: int = 20, rate_permille: int = 800,
                 span_min: int = 2, span_max: int = 5, seed: int = 0,
                 sentinel_base: int = 50100,
                 id_col: str = "doc_id", tokens_col: str = "tokens",
                 len_col: str = "n_tok") -> DataFrame:
    """T5-style span-corruption objective (Raffel et al. 2020, JMLR;
    the <extra_id_k> encoder-decoder pretraining transform), in a
    DETERMINISTIC grid variant so reruns and the DuckDB oracle land
    the identical byte stream: each ``grid``-token cell draws (via the
    portable md5 family keyed on ``doc_id:seed:cell``) whether it
    contributes a span (``rate_permille``/1000), the span length
    (uniform ``span_min..span_max``) and its offset inside the cell —
    spans therefore never cross cells, stay disjoint and ordered, and
    expected corruption ≈ rate · mean_span / grid (≈15% at the
    defaults, the published T5 setting). Exact T5 uses sequential
    random segmentation; the grid draw is the order-free equivalent
    that a declarative engine can replay — documented deviation.

    Output per doc: ``inputs`` (each span replaced by one sentinel
    ``sentinel_base+k``), ``targets`` (``[sent_k, span_k...] ...``
    closed by the final sentinel ``sentinel_base+K`` — T5's decoder
    layout), and ``n_spans``. Zero-span docs pass inputs through and
    emit the bare closing sentinel.

    Invariant (pytest-pinned): splicing each target span back over its
    sentinel in ``inputs`` reconstructs the original sequence exactly.

    Scale shape: MAP-ONLY — per-row higher-order-function folds over
    a cells array of ``n/grid`` structs; no shuffle, no Python, no
    state. O(n) work per doc (slices are per-span, spans disjoint).
    """
    if span_min < 1 or span_max < span_min:
        raise ValueError(f"span_corrupt: need 1 <= span_min <= "
                         f"span_max, got {span_min}..{span_max}")
    if grid < span_max:
        raise ValueError(f"span_corrupt: grid={grid} < span_max="
                         f"{span_max} leaves no offset room")
    if not 0 <= rate_permille <= 1000:
        raise ValueError(f"rate_permille out of [0,1000]: "
                         f"{rate_permille}")
    n = F.col(len_col).cast("int")
    sid = F.concat_ws(":", F.col(id_col).cast("string"),
                      F.lit(str(seed)))
    nspanrange = span_max - span_min + 1

    def draw(g: Column, salt: str) -> Column:
        return (F.conv(F.substring(F.md5(F.concat_ws(
            ":", sid, g.cast("string"), F.lit(salt))), 1, 7),
            16, 10).cast("long"))

    # candidate spans: one per full grid cell that wins its rate draw
    # and fits; struct(start, len) with start drawn inside the cell.
    # Integer DIV for the cell count — `/` on int columns is DOUBLE
    # division in Spark and would break sequence().
    cells = F.sequence(
        F.lit(0), F.expr(f"(CAST({len_col} AS INT) - 1) DIV {grid}"))

    def cell_span(g: Column) -> Column:
        ln = (span_min + draw(g, "sc/len") % nspanrange).cast("int")
        cell_end = F.least((g + 1) * grid, n)
        room = cell_end - g * grid - ln + 1
        start = (g * grid + draw(g, "sc/off")
                 % F.greatest(room, F.lit(1))).cast("int")
        use = ((draw(g, "sc/use") % 1000 < rate_permille)
               & (room >= 1))
        return F.when(use, F.struct(start.alias("s"), ln.alias("l")))

    spans = F.filter(F.transform(cells, cell_span),
                     lambda s: s.isNotNull())
    toks = F.col(tokens_col)
    ks = F.sequence(F.lit(0), F.size(spans) - 1)

    def gap_before(j: Column) -> Column:
        prev_end = F.when(j == 0, F.lit(0)).otherwise(
            F.element_at(spans, j.cast("int"))["s"]
            + F.element_at(spans, j.cast("int"))["l"])
        sp = F.element_at(spans, (j + 1).cast("int"))
        return F.concat(
            F.slice(toks, prev_end + 1, sp["s"] - prev_end),
            F.array(j.cast("int") + sentinel_base))

    last_end = F.when(F.size(spans) == 0, F.lit(0)).otherwise(
        F.element_at(spans, F.size(spans))["s"]
        + F.element_at(spans, F.size(spans))["l"])
    inputs = F.when(F.size(spans) == 0, toks).otherwise(
        F.concat(F.flatten(F.transform(ks, gap_before)),
                 F.slice(toks, last_end + 1, n - last_end)))

    def target_span(j: Column) -> Column:
        sp = F.element_at(spans, (j + 1).cast("int"))
        return F.concat(F.array(j.cast("int") + sentinel_base),
                        F.slice(toks, sp["s"] + 1, sp["l"]))

    targets = F.concat(
        F.when(F.size(spans) == 0, F.array().cast("array<int>"))
         .otherwise(F.flatten(F.transform(ks, target_span))),
        F.array(F.size(spans) + sentinel_base))
    return (df.withColumn("n_spans", F.size(spans).cast("long"))
              .withColumn("inputs", inputs)
              .withColumn("targets", targets)
              .drop(tokens_col))


def ul2_mixture(df: DataFrame, seed: int = 0,
                r_permille: int = 334, s_permille: int = 333,
                sentinel_base: int = 50100, mode_base: int = 50200,
                id_col: str = "doc_id", tokens_col: str = "tokens",
                len_col: str = "n_tok") -> DataFrame:
    """UL2 mixture-of-denoisers (Tay et al. 2022): each document is
    deterministically routed (portable md5 draw on ``doc_id:seed``) to
    one of the three denoising objectives, and its ``inputs`` stream
    is prefixed with the paradigm token the UL2 recipe conditions on:

    - **R** (regular, mode token ``mode_base+0``): short-span
      corruption — :func:`span_corrupt` grid=20, spans 2..5, the T5
      ~15% setting;
    - **S** (sequential, ``mode_base+1``): PrefixLM — a uniform cut
      splits the document; inputs = prefix + sentinel, targets =
      sentinel + suffix + closing sentinel (one "span", the tail);
    - **X** (extreme, ``mode_base+2``): long-span corruption —
      grid=32, spans 8..16, the aggressive-infilling objective.

    ``r_permille``/``s_permille`` set the route mix (remainder = X).
    Output: ``denoiser`` ('R'|'S'|'X'), ``n_spans``, ``inputs``,
    ``targets`` — the span-corrupt layout throughout, so one decoder
    contract covers all three.

    Scale shape: three disjoint MAP-ONLY branches (the route predicate
    is a hash on the same draw each branch filters by) unioned — no
    shuffle, no duplicated scan cost beyond the union's re-read (at
    10^12 rows run the three branches from one cached narrow pass or
    accept 3 scans of pruned columns; filters push down through all
    three).
    """
    if r_permille + s_permille > 1000:
        raise ValueError(
            f"ul2_mixture: r+s permille > 1000 "
            f"({r_permille}+{s_permille}) leaves no X share")
    sid = F.concat_ws(":", F.col(id_col).cast("string"),
                      F.lit(str(seed)))
    route = _permille_hash(sid, "ul2/mode")
    n = F.col(len_col).cast("int")
    toks = F.col(tokens_col)

    def finish(out: DataFrame, mode_idx: int, name: str) -> DataFrame:
        return (out.withColumn("denoiser", F.lit(name))
                .withColumn("inputs",
                            F.concat(F.array(F.lit(mode_base
                                                   + mode_idx)),
                                     F.col("inputs"))))

    r_branch = finish(
        span_corrupt(df.filter(route < r_permille), grid=20,
                     rate_permille=800, span_min=2, span_max=5,
                     seed=seed, sentinel_base=sentinel_base,
                     id_col=id_col, tokens_col=tokens_col,
                     len_col=len_col),
        0, "R")
    x_branch = finish(
        span_corrupt(df.filter(route >= r_permille + s_permille),
                     grid=32, rate_permille=800, span_min=8,
                     span_max=16, seed=seed,
                     sentinel_base=sentinel_base, id_col=id_col,
                     tokens_col=tokens_col, len_col=len_col),
        2, "X")
    cut = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", sid, F.lit("ul2/cut"))), 1, 7), 16, 10)
        .cast("long") % (n + 1)).cast("int")
    s_df = df.filter((route >= r_permille)
                     & (route < r_permille + s_permille))
    s_branch = finish(
        s_df.withColumn("n_spans", F.lit(1).cast("long"))
            .withColumn("inputs",
                        F.concat(F.slice(toks, 1, cut),
                                 F.array(F.lit(sentinel_base))))
            .withColumn("targets",
                        F.concat(F.array(F.lit(sentinel_base)),
                                 F.slice(toks, cut + 1, n - cut),
                                 F.array(F.lit(sentinel_base + 1))))
            .drop(tokens_col),
        1, "S")
    return r_branch.unionByName(s_branch).unionByName(x_branch)


def render_chat(df: DataFrame, turns_col: str = "turns",
                role_tokens: dict[str, int] | None = None,
                eot_token: int = 50303, unk_role_token: int = 50399,
                loss_roles: tuple[str, ...] = ("assistant",)) -> DataFrame:
    """SFT chat rendering: serialize a conversation — ``turns_col`` an
    ``array<struct<role:string, tokens:array<int>>>`` — into one
    training token stream plus its per-token ``loss_mask`` (the
    instruction-tuning convention: the model is penalized only on the
    turns it should learn to PRODUCE):

        tokens    = ⊕_i [role_tok(role_i)] ++ turn_i ++ [EOT]
        loss_mask = role tag always 0; content+EOT 1 iff role_i ∈
                    ``loss_roles`` (defaults to assistant-only)

    Unknown roles render as ``unk_role_token`` and are never in the
    loss (absence of a known role must not silently train). Default
    role ids: system 50300 / user 50301 / assistant 50302.

    Output adds ``tokens``, ``loss_mask``, ``n_tok``, ``n_loss``,
    ``n_turns``; invariant (pytest-pinned): ``len(tokens) ==
    len(loss_mask) == Σ(turn lens) + 2·n_turns`` and stripping tags
    and EOTs reconstructs every turn exactly.

    Scale shape: MAP-ONLY — one HOF flatten per row, no shuffle, no
    Python; the natural upstream of :func:`pack_documents` (SFT packs
    whole conversations) or :func:`bucket_batches`.
    """
    roles = dict({"system": 50300, "user": 50301, "assistant": 50302}
                 if role_tokens is None else role_tokens)
    if not roles:
        raise ValueError("render_chat: role_tokens must be non-empty")
    role_map = F.create_map(
        *[x for kv in roles.items()
          for x in (F.lit(kv[0]), F.lit(kv[1]))])
    loss_set = [r for r in loss_roles]

    def turn_tokens(t: Column) -> Column:
        tag = F.coalesce(role_map[t["role"]],
                         F.lit(unk_role_token)).cast("int")
        return F.concat(F.array(tag), t["tokens"],
                        F.array(F.lit(eot_token)))

    def turn_mask(t: Column) -> Column:
        on = (t["role"].isin(loss_set)
              & role_map[t["role"]].isNotNull()).cast("int")
        return F.concat(
            F.array(F.lit(0)),
            F.array_repeat(on, F.size(t["tokens"]).cast("int")),
            F.array(on))

    turns = F.col(turns_col)
    return (df.withColumn("tokens",
                          F.flatten(F.transform(turns, turn_tokens)))
              .withColumn("loss_mask",
                          F.flatten(F.transform(turns, turn_mask)))
              .withColumn("n_tok", F.size("tokens").cast("long"))
              .withColumn("n_loss",
                          F.aggregate("loss_mask",
                                      F.lit(0).cast("long"),
                                      lambda a, x: a + x))
              .withColumn("n_turns", F.size(turns).cast("long"))
              .drop(turns_col))


def remap_vocab(df: DataFrame, min_count: int = 2, unk_id: int = 0,
                tokens_col: str = "tokens",
                id_cols: tuple[str, ...] = ("doc_id", "source")) -> DataFrame:
    """Vocabulary compaction: corpus token ids occurring fewer than
    ``min_count`` times collapse to ``unk_id``; survivors renumber
    CONTIGUOUSLY from ``unk_id + 1`` in (count desc, id asc) rank
    order — the frequency-sorted id layout tokenizers ship with, and
    the step a pipeline runs when shrinking/retargeting a vocabulary
    (embedding-table size follows the new id space directly).

    Output: ``id_cols`` + remapped ``tokens``, ``n_tok``, ``n_unk``
    (tokens that collapsed). Invariants (pytest-pinned): length
    preserved per doc; mapping is a bijection on survivors; rank
    order reproduces exactly.

    Scale shape: the frequency/rank table is VOCAB-bounded (one
    map-side-combined count shuffle + a rank window over the vocab
    table, never the corpus) and broadcasts; the rewrite is
    explode → broadcast-join → reassemble keyed by ``id_cols`` with
    position order restored — two corpus-sized exchanges (the explode
    count and the reassembly), both ∝ tokens, skew-free (keys are
    uniformly-sized docs). A create_map literal would avoid the
    reassembly but dies at real vocab sizes (codegen limits); this is
    the shape that survives 10^12 tokens.
    """
    if min_count < 1:
        raise ValueError(f"remap_vocab: min_count must be >= 1, "
                         f"got {min_count}")
    freq = (df.select(F.explode(tokens_col).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("c")))
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    # the rank window runs over the VOCAB-bounded freq table; a
    # single-task sort of <= |vocab| rows is the accepted bounded cost
    # (same posture as zipf_table's rank window)
    mapping = (freq.filter(F.col("c") >= min_count)
               .withColumn("new_id",
                           (F.row_number().over(w) + unk_id)
                           .cast("int")))
    pos = (df.select(*id_cols,
                     F.posexplode(tokens_col).alias("pos", "tok")))
    remapped = (pos.join(F.broadcast(mapping.select("tok", "new_id")),
                         "tok", "left")
                .withColumn("new_id",
                            F.coalesce(F.col("new_id"),
                                       F.lit(unk_id).cast("int"))))
    return (remapped.groupBy(*[F.col(x) for x in id_cols])
            .agg(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("pos").alias("p"),
                                 F.col("new_id").alias("t")))),
                    lambda s: s["t"]).alias(tokens_col),
                 F.count("*").alias("n_tok"),
                 F.sum((F.col("new_id") == unk_id).cast("long"))
                  .alias("n_unk")))


def decontaminate_spans(train: DataFrame, bench: DataFrame,
                        length: int = 32,
                        id_col: str = "doc_id",
                        tokens_col: str = "tokens",
                        hash_fn: str = "md5") -> DataFrame:
    """Span-level benchmark decontamination (the Lee et al. 2022 /
    GPT-3-appendix posture, one step stronger than n-gram flagging):
    a training document is CONTAMINATED when it shares ANY verbatim
    ``length``-token window with the held-out benchmark — long enough
    that chance collision is impossible, short enough to catch
    partial verbatim inclusions that 5-gram counting drowns in noise.

    Output: one row per train doc with ``contaminated``,
    ``n_hit_windows`` (how many of ITS windows match) and
    ``first_hit_pos`` (1-based, for audit slicing). Compose with a
    filter to drop, or route to review.

    Scale shape: both sides reduce to fixed-width window KEYS before
    any exchange (:func:`substring_windows` — content never shuffles);
    the bench side is DISTINCT keys (eval suites are tiny relative to
    the corpus) and broadcasts; the train side aggregates per doc
    after a broadcast semi-ish left join — one corpus-∝ window
    exchange total, no quadratic anything.
    """
    tw = substring_windows(train, id_col=id_col,
                           tokens_col=tokens_col, length=length,
                           hash_fn=hash_fn)
    bw = (substring_windows(bench, id_col=id_col,
                            tokens_col=tokens_col, length=length,
                            hash_fn=hash_fn)
          .select("wkey").distinct())
    hits = (tw.join(F.broadcast(bw.withColumn("__hit", F.lit(1))),
                    "wkey", "left")
            .groupBy(id_col)
            .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                  .cast("long").alias("n_hit_windows"),
                 F.min(F.when(F.col("__hit").isNotNull(),
                              F.col("pos"))).cast("long")
                  .alias("first_hit_pos")))
    return (train.select(id_col)
            .join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_hit_windows"), F.lit(0))
                     .cast("long").alias("n_hit_windows"),
                    "first_hit_pos")
            .withColumn("contaminated", F.col("n_hit_windows") > 0))


def ngram_repetition(df: DataFrame, top_n: int = 2, dup_n: int = 5,
                     tokens_col: str = "tokens",
                     id_cols: tuple[str, ...] = ("doc_id", "source"),
                     len_col: str = "n_tok") -> DataFrame:
    """Within-document n-gram repetition signals — the two Gopher
    §A1.1 rule families :func:`repetition_stats` (duplicate LINES)
    does not cover:

    - ``top{top_n}_permille``: tokens claimed by the single most
      frequent ``top_n``-gram, ``count·n·1000 DIV n_tok`` (Gopher
      gates 2-grams at 20%; overlapping occurrences can push the raw
      ratio past 1000 — reported uncapped, the gate caps);
    - ``dup{dup_n}_permille``: tokens COVERED by any ``dup_n``-gram
      occurring 2+ times — exact positional coverage (union of
      occurrence windows, overlap counted once), not the count·n
      upper bound (Gopher gates 5-grams at 15%).

    All-integer permilles (DIV — NOTES #25) so the oracle replays
    exactly. Documents shorter than the gram drop the corresponding
    signal to 0.

    Scale shape: per-gram counts shuffle keyed by (doc, gram) — group
    sizes bounded by the DOCUMENT (a hot corpus-wide gram cannot
    concentrate a reducer, unlike corpus-keyed gram tables); the
    coverage explode touches only duplicated positions ×dup_n. Two
    such exchanges (one per n), both ∝ tokens.
    """
    for nm, v in (("top_n", top_n), ("dup_n", dup_n)):
        if v < 1:
            raise ValueError(f"ngram_repetition: {nm} must be >= 1")
    c = tokens_col
    ids = [F.col(x) for x in id_cols]

    def gram_pos(n: int) -> DataFrame:
        e = F.expr(
            f"transform(sequence(0, size({c}) - {n}), i -> struct("
            f"i AS pos, array_join(transform(slice({c}, i + 1, {n}),"
            f" x -> CAST(x AS STRING)), ' ') AS gk))")
        return (df.filter(F.size(F.col(c)) >= n)
                .select(*id_cols, F.col(len_col).cast("long")
                        .alias("__n"), F.explode(e).alias("g"))
                .select(*id_cols, "__n", F.col("g.pos").alias("pos"),
                        F.col("g.gk").alias("gk")))

    tp = (gram_pos(top_n)
          .groupBy(*id_cols, "__n", "gk").agg(F.count("*").alias("c"))
          .groupBy(*id_cols)
          .agg(F.expr(f"max(c) * {top_n} * 1000 DIV first(__n)")
                .cast("long").alias(f"top{top_n}_permille")))
    dp_pos = gram_pos(dup_n)
    w_cnt = (dp_pos.groupBy(*id_cols, "gk")
             .agg(F.count("*").alias("c")))
    dup_cov = (dp_pos.join(w_cnt, [*id_cols, "gk"])
               .filter(F.col("c") >= 2)
               .select(*id_cols, "__n",
                       F.explode(F.sequence(
                           F.col("pos"),
                           F.col("pos") + (dup_n - 1))).alias("ti"))
               .groupBy(*id_cols)
               .agg(F.expr("count(DISTINCT ti) * 1000 DIV first(__n)")
                     .cast("long").alias(f"dup{dup_n}_permille")))
    base = df.select(*id_cols)
    out = (base.join(tp, list(id_cols), "left")
           .join(dup_cov, list(id_cols), "left"))
    return out.select(
        *ids,
        F.coalesce(F.col(f"top{top_n}_permille"), F.lit(0))
         .cast("long").alias(f"top{top_n}_permille"),
        F.coalesce(F.col(f"dup{dup_n}_permille"), F.lit(0))
         .cast("long").alias(f"dup{dup_n}_permille"))


def corpus_drift(old: DataFrame, new: DataFrame, k: int = 20,
                 tokens_col: str = "tokens") -> DataFrame:
    """Distribution drift between two corpus snapshots — the
    monitoring op a production ingest runs between crawls: token
    unigram mass in integer PPM for each side (``count·10^6 DIV
    total``), full-outer joined over the union vocabulary, with

    - ``l1_drift_ppm``: Σ|ppm_old − ppm_new| over the union (0 =
      identical distributions, 2·10^6 = disjoint) — the exact-integer
      L1 analogue of the JSD drift score, engine-portable by
      construction (no logs, no floats);
    - the top ``k`` movers by |Δppm| (tie-broken on token id) with
      both sides' masses — the "what changed" audit.

    Output: ``k`` rows (token, ppm_old, ppm_new, delta_ppm,
    l1_drift_ppm) — the scalar rides every row via a 1-row broadcast.

    Scale shape: two vocab-bounded frequency aggs (map-side combined)
    + a vocab-bounded full-outer join + one vocab-bounded top-k
    window; the corpora are each read once, nothing corpus-sized
    survives the first exchange.
    """
    if k < 1:
        raise ValueError(f"corpus_drift: k must be >= 1, got {k}")

    def mass(df: DataFrame, name: str) -> DataFrame:
        f = (df.select(F.explode(tokens_col).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("__c")))
        t = f.agg(F.sum("__c").alias("__t"))
        return (f.crossJoin(F.broadcast(t))
                .select("tok",
                        F.expr("__c * 1000000 DIV __t")
                         .cast("long").alias(name)))

    j = (mass(old, "ppm_old")
         .join(mass(new, "ppm_new"), "tok", "full_outer")
         .select("tok",
                 F.coalesce("ppm_old", F.lit(0)).alias("ppm_old"),
                 F.coalesce("ppm_new", F.lit(0)).alias("ppm_new")))
    j = j.withColumn("delta_ppm",
                     (F.col("ppm_new") - F.col("ppm_old"))
                     .cast("long"))
    total = j.agg(F.sum(F.abs("delta_ppm")).cast("long")
                  .alias("l1_drift_ppm"))
    w = Window.orderBy(F.abs(F.col("delta_ppm")).desc(),
                       F.col("tok").asc())
    return (j.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k).drop("__r")
            .crossJoin(F.broadcast(total)))
